package graft.engine

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.functions.col

/** Fingerprint-stamped build-or-reuse for artifacts AT REST — the seam
  * behind `Similarity.ensureIvfIndex` and `Dedup.ensureDedupIndex`.
  *
  * A 100 TB pipeline amortizes its expensive derived artifacts (IVF
  * index, near-dup pair graph, CC labels) across JOBS, not one JVM: the
  * artifact lives on the cluster filesystem with a sidecar stamp of
  * (input data fingerprint, input plan hash, hyperparameters), and every
  * run compares the stamp instead of rebuilding. The stamp is written
  * AFTER the build completes, so a crash mid-build leaves no stamp and
  * the next ensure rebuilds instead of trusting a torn artifact. All IO
  * goes through the Hadoop FS API so `path` can live on any cluster
  * filesystem, not just local disk.
  *
  * Isolation contract: WRITERS are mutually excluded (the mutation
  * lease below); READERS are lock-free and may therefore race a
  * rebuild — a read that overlaps an in-place overwrite can observe
  * missing files and fail (it can never observe a half-written
  * artifact AS current, because the stamp lands last). Retry-on-read
  * is the cheap answer; deployments needing strict reader isolation
  * should publish artifacts through versioned paths (write to
  * `path/v<k>`, flip a pointer) — out of scope here, where one
  * pipeline owns each artifact.
  */
object AtRest {

  /** Thrown when a writer is REFUSED because another job holds the
    * mutation lease — a subclass of IllegalStateException so existing
    * fail-fast callers are unchanged, but typed so retry-capable
    * callers (the streaming maintenance faces, which must outlive a
    * transient offline-writer collision) can catch exactly this
    * condition and nothing else.
    */
  final class ConcurrentWriterException(msg: String)
    extends IllegalStateException(msg)

  /** The sidecar's current stamp, if a well-formed one exists — the
    * read half of [[ensureStamped]], exposed so incremental extenders
    * (e.g. `Dedup.extendDedupIndex`) can distinguish "artifact matches
    * my base, extend it" from "drifted, rebuild from scratch".
    */
  def readStamp(spark: SparkSession, path: String,
      metaName: String): Option[String] = {
    val metaPath = new org.apache.hadoop.fs.Path(path, metaName)
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val isRegularFile =
      try fs.getFileStatus(metaPath).isFile
      catch { case _: java.io.FileNotFoundException => false }
    if (!isRegularFile) None
    else {
      val in = fs.open(metaPath)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Remove the sidecar stamp, if present. An IN-PLACE mutator (e.g.
    * `Dedup.extendDedupIndex`, which reads the existing artifacts and
    * overwrites them) MUST call this before its first overwrite: the
    * stamp-after-build crash-safety argument only holds for builds that
    * never read the existing artifact — a crash between the first
    * overwrite and the re-stamp would otherwise leave the OLD stamp
    * pointing at half-mutated files, and a retry would extend on top of
    * already-extended pairs (silently duplicating every batch pair).
    * With the stamp gone, a crashed mutation falls back to a full
    * rebuild on retry.
    */
  def deleteStamp(spark: SparkSession, path: String,
      metaName: String): Unit = {
    val metaPath = new org.apache.hadoop.fs.Path(path, metaName)
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(metaPath, false)
    ()
  }

  /** The shared INCREMENTAL-EXTENSION protocol over a stamped artifact
    * — the one place the stamp/crash/drift discipline lives, so the
    * six at-rest families ([[extend]] drives all of them) cannot drift
    * apart:
    *
    *  1. if the current stamp already `coversUnion` → no-op (false);
    *  2. else if `extendFrom(currentStamp)` recognizes the artifact as
    *     this extension's base, the returned in-place mutation runs —
    *     with the stamp DELETED first (a crash mid-mutation leaves a
    *     stampless dir that forces a clean rebuild, never a stale stamp
    *     over half-extended files) and the returned union stamp written
    *     only AFTER it completes;
    *  3. else the stale stamp (if any) comes off and `rebuild` runs —
    *     same crash argument: rebuild-over-drift overwrites artifact
    *     dirs in place, so the window between first overwrite and
    *     re-stamp must be stampless. `rebuild` does its own stamping
    *     (typically via [[ensureStamped]] or a family `ensure*`).
    *
    * `extendFrom` is invoked at most once and ONLY when the union isn't
    * covered, so base-side probe work (e.g. a sampled banding decision)
    * stays off the no-op path. Returns true when any build ran.
    */
  private[graft] def extendStamped(spark: SparkSession, path: String,
      metaName: String, coversUnion: String => Boolean,
      extendFrom: String => Option[(String, () => Unit)])(
      rebuild: => Boolean): Boolean = {
    // lock-free no-op fast path: readers of a covered artifact never
    // contend on — or get refused by — the mutation lease
    val current = readStamp(spark, path, metaName)
    if (current.exists(coversUnion)) false
    else withMutationLease(spark, path, metaName) {
      // double-checked under the lease: the decision read above raced
      // any concurrent writer, so re-read and re-decide — a writer
      // that finished this exact union while we waited turns this call
      // into a no-op instead of a double-extension
      val held = readStamp(spark, path, metaName)
      if (held.exists(coversUnion)) false
      else held.flatMap(extendFrom) match {
        case Some((unionStamp, mutate)) =>
          deleteStamp(spark, path, metaName)
          ensureStamped(spark, path, metaName, unionStamp,
            force = true) {
            mutate()
          }
        case None =>
          deleteStamp(spark, path, metaName)
          rebuild
      }
    }
  }

  /** Run `build` only when the sidecar `path/metaName` is absent or its
    * content differs from `stamp` (or `force`). `force` is the
    * out-of-band-mutation hatch: data fingerprints typically see only
    * file (path, length, mtime), so a rewrite preserving sizes within
    * mtime granularity — or an object-store restore preserving mtimes —
    * needs an explicit rebuild lever. Returns true when a (re)build
    * happened.
    */
  def ensureStamped(spark: SparkSession, path: String, metaName: String,
      stamp: String, force: Boolean)(build: => Unit): Boolean = {
    val metaPath = new org.apache.hadoop.fs.Path(path, metaName)
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val current = readStamp(spark, path, metaName)
    if (!force && current.contains(stamp)) false
    else withMutationLease(spark, path, metaName) {
      // double-checked under the lease (see extendStamped)
      if (!force && readStamp(spark, path, metaName).contains(stamp))
        false
      else {
        // Drift/force arm overwrites the relation IN PLACE, so any
        // existing stamp must come off before the first write — a crash
        // mid-build then leaves a stampless dir (clean rebuild on
        // retry), never the OLD stamp over a torn artifact. Same
        // invariant extendStamped/compactStamped already keep.
        deleteStamp(spark, path, metaName)
        build
        val out = fs.create(metaPath, true)
        try out.write(
          stamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      }
    }
  }

  /** Swap a matching stamp for a rewritten one WITHOUT touching the
    * artifact — landed-corpus consolidation's hook: after a stream's
    * landed batch dirs are re-bucketed into a consolidated dir the
    * corpus ROWS are identical, so the artifact stays exactly right
    * while the (file-fingerprint, plan-hash) prefix of its stamp must
    * move to the new read plan. Runs under the writer lease (the
    * stamp is re-read and re-offered to `rewrite` there); `rewrite`
    * returning None — the stamp is absent, foreign, or already moved —
    * leaves everything untouched. Returns true only when a new stamp
    * was written.
    */
  private[graft] def restampIf(spark: SparkSession, path: String,
      metaName: String)(rewrite: String => Option[String]): Boolean =
    readStamp(spark, path, metaName).nonEmpty &&
      withMutationLease(spark, path, metaName) {
        readStamp(spark, path, metaName).flatMap(rewrite) match {
          case Some(next) =>
            ensureStamped(spark, path, metaName, next, force = true) {}
          case None => false
        }
      }

  /** Run a CONTENT-PRESERVING in-place mutation (shard compaction,
    * file re-layout) over a stamped artifact, under the writer lease:
    * stamp off, mutate, the SAME stamp back — so concurrent writers
    * are excluded for the whole window and a crash mid-mutation leaves
    * a stampless dir (clean rebuild), never a stamp over torn files.
    * Lock-free no-op (false) when the artifact is unstamped; the
    * caller's mutation must leave the logical content unchanged (the
    * stamp is the same corpus's). Returns true when the mutation ran.
    */
  private[graft] def compactStamped(spark: SparkSession, path: String,
      metaName: String)(mutate: => Unit): Boolean =
    readStamp(spark, path, metaName) match {
      case None => false
      case Some(_) => withMutationLease(spark, path, metaName) {
        // re-read under the lease: a writer that replaced the artifact
        // while we waited still gets its own stamp preserved
        readStamp(spark, path, metaName) match {
          case None => false
          case Some(stamp) =>
            deleteStamp(spark, path, metaName)
            ensureStamped(spark, path, metaName, stamp, force = true) {
              mutate
            }
        }
      }
    }

  /** One at-rest index family, declared once as a value. The six
    * families (in `Dedup`: exact pairs, LSH keys, CDC chunks, the
    * shingle-df sidecar; in `Similarity`: IVF and kNN) are each a
    * `Family` built from their hyperparameters, and [[ensure]],
    * [[extend]], [[compact]], [[restamp]] and [[read]] run the one
    * lifecycle for all of them.
    *
    * A family names its on-disk [[Layout]], its stamp (`key`, plus the
    * optional `model` term), its full build, and its `delta` (the
    * in-place mutation that folds a new batch into an index stamped for
    * the base). `P` is the per-corpus parameter the stamp carries; it is
    * resolved once per call from the corpus being built or from the
    * union being extended to, and handed to the key, the build and the
    * delta. `params` also gets the index's current stamp, so a family
    * whose parameter costs a probe can take it from a stamp written for
    * the same corpus instead.
    *
    * The stamp rules, which decide whether an extension may run:
    *
    * Exact match (`model = None`). The stamp is `key(corpus, p)`. An
    * index covers the union when its stamp equals the union's key, and
    * an extension runs when it equals the base's key. Anything else
    * rebuilds the union from scratch.
    *
    * Banding carried in the stamp (LSH keys, `P` = (numHashes, bands)).
    * The banding is part of the key and is resolved from the UNION, so
    * the base's key is computed under the union's banding too. A base
    * stamp written under other banding then fails the exact match, and
    * the index rebuilds instead of probing batch keys against base keys
    * hashed under another banding.
    *
    * Frozen `|model=` term (IVF, kNN). The stamp is
    * `key(corpus) + "|model=" + model(corpus)`, the model naming the
    * corpus the centroids were trained on. An extension keeps the
    * model: it runs when the stamp starts with the base's
    * `key + "|model="` and writes the union's key with the base
    * stamp's model term carried over verbatim. An [[ensure]] over the
    * extended union sees its own model term differ and re-trains.
    */
  final case class Family[P](
      layout: Layout,
      params: (DataFrame, Option[String]) => P,
      key: (DataFrame, P) => String,
      model: Option[DataFrame => String],
      build: (DataFrame, String, P) => Unit,
      delta: (DataFrame, DataFrame, String, P) => Unit) {

    private[AtRest] def stamp(corpus: DataFrame, p: P): String =
      key(corpus, p) + model.fold("")(m => ModelTerm + m(corpus))

    /** What follows key `k` in `stamp` when `stamp` belongs to the
      * corpus keyed `k`: "" under exact match, the frozen model term
      * under the model rule; None otherwise.
      */
    private[AtRest] def tail(stamp: String, k: String): Option[String] =
      if (model.isEmpty) Option.when(stamp == k)("")
      else Option.when(stamp.startsWith(k + ModelTerm))(
        stamp.substring(k.length))
  }

  private val ModelTerm = "|model="

  /** A family's index as it sits on disk, whatever its hyperparameters:
    * the stamp sidecar `meta` and the `accreting` relations its deltas
    * append to. [[compact]] and [[restamp]] need nothing else.
    */
  final case class Layout(meta: String, accreting: Seq[Accreting])

  /** A relation under an index dir that extensions APPEND to, so a
    * long-lived index accretes one file set per batch. `rel` is the
    * subdirectory ("" for the index root); `cells` marks a
    * `cell=`-partitioned relation, compacted cell by cell; `merge`, when
    * set, folds the shards into one relation (the df sidecar's sum) in
    * place of a plain re-bucketing.
    */
  final case class Accreting(rel: String, cells: Boolean = false,
      merge: Option[DataFrame => DataFrame] = None)

  /** Build `corpus`'s index at `path` unless its stamp already matches
    * (or `force`). Returns true when a (re)build happened.
    */
  def ensure[P](f: Family[P], corpus: DataFrame, path: String,
      force: Boolean): Boolean = {
    val p = f.params(corpus, readStamp(corpus.sparkSession, path, f.layout.meta))
    ensureStamped(corpus.sparkSession, path, f.layout.meta,
      f.stamp(corpus, p), force)(f.build(corpus, path, p))
  }

  /** Fold `batch` into the index of `base` at `path` through
    * [[extendStamped]]: a no-op when the stamp covers the union, the
    * family's delta when it is the base's under the family's stamp rule,
    * and a full build of the union otherwise. `unionView` is the
    * caller's canonical plan of base ∪ batch (a flat multi-dir read),
    * whose stamp the next extension's base then matches; rows must equal
    * base ∪ batch. Returns true when any build ran.
    */
  def extend[P](f: Family[P], base: DataFrame, batch: DataFrame,
      path: String, unionView: Option[DataFrame]): Boolean = {
    val spark = base.sparkSession
    val union = unionView.getOrElse(base.union(batch))
    val p = f.params(union, readStamp(spark, path, f.layout.meta))
    val unionKey = f.key(union, p)
    extendStamped(spark, path, f.layout.meta,
      coversUnion = f.tail(_, unionKey).isDefined,
      extendFrom = s => f.tail(s, f.key(base, p)).map(t =>
        (unionKey + t, () => f.delta(base, batch, path, p)))) {
      ensureStamped(spark, path, f.layout.meta, f.stamp(union, p),
        force = true)(f.build(union, path, p))
    }
  }

  /** Compact the layout's accreting relations that hold more than
    * `budget` parquet files (per `cell=` dir for a cell relation; budget
    * 0 compacts every non-empty one). Lock-free no-op, stamp untouched,
    * when none is over budget; otherwise the rewrite runs in
    * [[compactStamped]]'s window: rows unchanged, each relation swapped
    * in by [[swapDir]]. Returns true when a compaction ran.
    */
  def compact(l: Layout, spark: SparkSession, path: String,
      budget: Int): Boolean = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    def over(a: Accreting): Seq[Path] = {
      val dir = relDir(path, a.rel)
      val dirs =
        if (!a.cells) Seq(dir)
        else children(fs, dir)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
          .map(_.getPath)
      dirs.filter(parquetFiles(fs, _).size > budget)
    }
    l.accreting.exists(over(_).nonEmpty) &&
      compactStamped(spark, path, l.meta) {
        l.accreting.foreach { a =>
          val dirs = over(a)
          if (dirs.nonEmpty)
            if (a.cells) compactCells(spark, fs, relDir(path, a.rel), dirs)
            else compactFlat(spark, fs, dirs.head, a.merge)
        }
      }
  }

  /** Move the index's stamp to a rewritten one with the artifact
    * untouched (a landed-corpus consolidation: same rows, new read
    * plan). `rewrite` returning None leaves everything as is. Returns
    * true only when a new stamp was written.
    */
  def restamp(l: Layout, spark: SparkSession, path: String)(
      rewrite: String => Option[String]): Boolean =
    restampIf(spark, path, l.meta)(rewrite)

  /** The relation `rel` of the index at `path` ("" for the root). A
    * hidden-named relation (`_centroids`, kept out of reads of the root
    * by its name) is read through its data files, so the read neither
    * hands Spark a root path its file index ignores nor logs
    * "All paths were ignored".
    */
  def read(spark: SparkSession, path: String, rel: String): DataFrame = {
    val dir = relDir(path, rel)
    if (!FooterBridge.hidden(dir.getName)) Tables.parquet(spark, dir.toString)
    else {
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val files = children(fs, dir)
        .filter(s => s.isFile && !FooterBridge.hidden(s.getPath.getName))
        .map(_.getPath.toString).sorted
      Tables.parquet(spark, (if (files.isEmpty) Seq(dir.toString)
        else files): _*)
    }
  }

  private def relDir(path: String, rel: String): Path =
    if (rel.isEmpty) new Path(path) else new Path(path, rel)

  /** The entries of `dir`; none when it is absent. */
  private def children(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: FileNotFoundException => Nil }

  /** The parquet files directly under `dir`. */
  private def parquetFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    children(fs, dir).filter(_.getPath.getName.endsWith(".parquet"))

  /** Rewrite one flat relation through `dir_compact_tmp`: merged when
    * the relation has a `merge`, else re-bucketed to ⌈bytes / 128 MB⌉
    * files with rows unchanged.
    */
  private def compactFlat(spark: SparkSession, fs: FileSystem, dir: Path,
      merge: Option[DataFrame => DataFrame]): Unit = {
    val staged = new Path(dir.toString + "_compact_tmp")
    val retired = new Path(dir.toString + "_compact_old")
    // reclaim any orphan of an earlier crashed compaction
    fs.delete(staged, true)
    fs.delete(retired, true)
    swapDir(fs, dir, staged, retired) {
      val rows = Tables.parquet(spark, dir.toString)
      (merge match {
        case Some(m) => m(rows)
        case None =>
          val bytes = parquetFiles(fs, dir).map(_.getLen).sum
          rows.repartition(math.max(1,
            math.ceil(bytes / (128.0 * 1024 * 1024)).toInt))
      }).write.mode("overwrite").parquet(staged.toString)
    }
  }

  /** Rewrite ONLY the over-budget `cell=` dirs of a cell relation to
    * one file per cell: one repartition-by-cell job for all of them into
    * a SIBLING staging root (partition discovery of `root` never sees
    * it), then a [[swapDir]] per cell. Untouched cells are never read
    * and stay byte-identical.
    */
  private def compactCells(spark: SparkSession, fs: FileSystem, root: Path,
      over: Seq[Path]): Unit = {
    val staged = new Path(root.toString + "__compact_tmp")
    fs.delete(staged, true)
    try {
      val cells = over.map(_.getName.stripPrefix("cell=").toLong)
      val df = Tables.parquet(spark, root.toString)
        .filter(col("cell").isin(cells: _*))
      // repartition by cell ⇒ one task, hence one file, per cell
      df.select(df.columns.filterNot(_ == "cell").map(col) :+
          col("cell"): _*)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(staged.toString)
      over.foreach { live =>
        swapDir(fs, live, new Path(staged, live.getName),
          new Path(staged, live.getName + ".old"))(())
      }
    } finally fs.delete(staged, true)
  }

  /** The one directory swap of every compaction: run `stage` (which
    * writes the replacement to `staged`), then `live` → `retired` and
    * `staged` → `live` — two renames, not delete-then-rename, so the
    * window in which `live` is absent is one metadata op wide and the
    * old file set is removed only AFTER the new one serves. The old and
    * new sets never coexist under `live`: a reader that planned its scan
    * against the old set completes on it or fails on the vanished paths
    * (retry), never a mixed read. A failure between the renames restores
    * the old set; the caller's stampless window covers anything worse.
    */
  private def swapDir(fs: FileSystem, live: Path, staged: Path,
      retired: Path)(stage: => Unit): Unit =
    try {
      stage
      if (!fs.rename(live, retired))
        sys.error(s"compaction rename failed: $live -> $retired")
      if (!fs.rename(staged, live))
        sys.error(s"compaction rename failed: $staged -> $live")
    } finally {
      if (!fs.exists(live) && fs.exists(retired)) fs.rename(retired, live)
      fs.delete(staged, true)
      if (fs.exists(live)) fs.delete(retired, true)
    }

  /** A memoized SCALAR decision statistic at rest — the
    * [[ensureStamped]] discipline for the auto-switch families' probe
    * values (a probe statistic is a pure function of corpus + params,
    * so over a static corpus it is computed once and every later call
    * reads one tiny stamped parquet; a corpus change mismatches the
    * stamp and re-probes, so a decision can never go stale). The value
    * lands as a 1-row relation under `path/<relName>` with the stamp
    * in `path/<metaName>`.
    */
  def statStamped(spark: SparkSession, path: String, metaName: String,
      stamp: String, relName: String)(compute: => Double): Double = {
    // When the build runs, hand the freshly computed value straight
    // back — never re-read the relation after the lease is released,
    // where a concurrent re-probe for a DIFFERENT corpus could have
    // overwritten it (a silently wrong auto-switch decision).
    var builtValue: Option[Double] = None
    ensureStamped(spark, path, metaName, stamp, force = false) {
      val v = compute
      val s = spark
      import s.implicits._
      Seq(v).toDF("v").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/$relName")
      builtValue = Some(v)
    }
    builtValue.getOrElse {
      // Covered path (stamp matched, no build): read the relation, then
      // re-check the stamp — if a concurrent writer swapped the corpus
      // between the check and the read, the value on disk is the OTHER
      // corpus's. Fall back to computing inline (correct by definition,
      // touches no artifact) rather than retrying into a live writer.
      val onDisk =
        try Some(Tables.parquet(spark, s"$path/$relName").head().getDouble(0))
        catch { case _: Exception => None }
      onDisk
        .filter(_ => readStamp(spark, path, metaName).contains(stamp))
        .getOrElse(compute)
    }
  }

  /** How long a mutation lease may sit WITHOUT A HEARTBEAT before
    * another writer treats its holder as crashed and breaks it. Live
    * holders renew the lease mtime every `renewMs` (TTL/3 by default,
    * see [[withMutationLease]]) from a daemon thread, so a build of ANY
    * length keeps its exclusivity —
    * at production corpus sizes an index seed legitimately runs for
    * hours (the measured 200 k-vector seed is already ~11 min,
    * SCALE.md round 15), which would otherwise sail past any fixed
    * TTL — while a genuinely crashed holder's lease still breaks
    * after 30 min instead of the hours a build-length-sized TTL
    * would cost crash recovery.
    */
  private[graft] val LeaseTtlMs: Long = 30L * 60 * 1000

  /** Shared daemon scheduler pool for all lease heartbeats in the JVM —
    * a renewal is one cheap metadata call, but it IS blocking FS I/O,
    * so a single thread would let one hung filesystem call starve every
    * other held lease's beats past the TTL (and hand a competing writer
    * a live holder's lease). A small pool bounds that blast radius: a
    * hung store stalls its own lease's beats (fixed-delay tasks never
    * overlap themselves) and at worst poolSize−1 neighbours.
    */
  private lazy val leaseRenewer = {
    val pool = new java.util.concurrent.ScheduledThreadPoolExecutor(4,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-lease-renewer-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    pool.setRemoveOnCancelPolicy(true)
    pool
  }

  /** Per-JVM registry of held leases (qualified lease path → holder
    * thread) — what makes the lease RE-ENTRANT for the protocol's own
    * nesting (extendStamped's arms run ensureStamped / family ensure*
    * on the same path) without a second acquisition.
    */
  private val heldLeases =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  /** Exclusive WRITER lease over one artifact's mutation window — the
    * concurrent-writer guard the stamp protocol alone cannot give:
    * deleteStamp→mutate→restamp is crash-safe, but a second extender
    * interleaving between the delete and the restamp could extend the
    * same base twice. The lease is a create-exclusive sidecar file
    * (`<metaName>.lease`, Hadoop FS API — atomic on HDFS-like stores;
    * best-effort existence-checked elsewhere) holding host:pid:epoch.
    * A writer finding a FRESH lease is REFUSED (IllegalStateException
    * — fail fast, never queue behind an unbounded build); a lease
    * older than [[LeaseTtlMs]] is a crashed holder's and is broken
    * once. Readers never touch the lease: the callers' no-op fast
    * paths stay lock-free, and the post-acquisition double-check turns
    * a lost race into a no-op instead of a conflict.
    *
    * `renewMs` is the heartbeat cadence — TTL/3 by default so two
    * missed beats still leave headroom before the break threshold
    * (specs shrink it to drive the renew-vs-break race in
    * milliseconds). A re-entrant call rides the outer holder's beat.
    */
  private[graft] def withMutationLease[T](spark: SparkSession,
      path: String, metaName: String,
      renewMs: Long = LeaseTtlMs / 3)(body: => T): T = {
    val leasePath = new org.apache.hadoop.fs.Path(path,
      metaName + ".lease")
    val fs = leasePath.getFileSystem(spark.sessionState.newHadoopConf())
    val key = fs.makeQualified(leasePath).toString
    if (heldLeases.get(key) eq Thread.currentThread()) body
    else {
      // Every acquisition writes a UNIQUE token, and both the stale
      // break and the release re-read the file and delete ONLY when the
      // token matches what they observed/wrote. Without the token check,
      // two writers that both judged a crashed holder's lease stale
      // could both delete-then-create (the second delete removing the
      // first's FRESH lease), and a holder that outlived LeaseTtlMs
      // would delete the new holder's lease on exit — cascading the
      // breach to a third writer. Token equality pins every delete to
      // the exact lease incarnation it was decided against.
      val myToken =
        java.net.InetAddress.getLocalHost.getHostName + ":" +
          ProcessHandle.current().pid() + ":" +
          System.currentTimeMillis() + ":" +
          java.util.UUID.randomUUID().toString
      // Sidecar the heartbeat can fall back to on stores where
      // setTimes is a silent no-op (several object-store filesystems):
      // the holder overwrites it with its own token each beat, and the
      // staleness clock below credits its mtime ONLY when its token
      // matches the lease's — a torn or stale beat read just fails the
      // match and the lease looks older, never fresher, than it is.
      val beatFile = new org.apache.hadoop.fs.Path(path,
        metaName + ".lease.beat")
      def readFileToken(p: org.apache.hadoop.fs.Path): Option[String] =
        try {
          val in = fs.open(p)
          try Some(new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8))
          finally in.close()
        } catch { case _: java.io.IOException => None }
      def readToken(): Option[String] = readFileToken(leasePath)
      def tryAcquire(): Boolean =
        try {
          val out = fs.create(leasePath, false)
          try out.write(
            myToken.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      // Delete the lease only if it still carries `expected` — a token
      // change between observation and delete means a FRESH holder took
      // over, so refuse rather than remove its lease.
      def deleteIfToken(expected: String): Boolean =
        readToken().contains(expected) && {
          try { fs.delete(leasePath, false); true }
          catch { case _: java.io.IOException => false }
        }
      if (!tryAcquire()) {
        val observed = readToken()
        val stale =
          try {
            val leaseM = fs.getFileStatus(leasePath).getModificationTime
            // credit the beat sidecar only when it carries the CURRENT
            // lease incarnation's token (a previous holder's beat must
            // not freshen a crashed successor's lease)
            val beatM =
              if (observed.nonEmpty && readFileToken(beatFile) == observed)
                try fs.getFileStatus(beatFile).getModificationTime
                catch { case _: java.io.FileNotFoundException => 0L }
              else 0L
            System.currentTimeMillis() -
              math.max(leaseM, beatM) > LeaseTtlMs
          } catch { case _: java.io.FileNotFoundException => true }
        val broke = stale && (observed match {
          case Some(tok) => deleteIfToken(tok)
          case None => true // vanished between create-fail and read
        })
        if (!broke || !tryAcquire())
          throw new ConcurrentWriterException(
            s"concurrent at-rest writer holds $key — the artifact is " +
              "being mutated by another job; retry after it finishes " +
              s"(stale leases break after ${LeaseTtlMs / 60000} min)")
      }
      heldLeases.put(key, Thread.currentThread())
      // Heartbeat: while the body runs, refresh the lease mtime so the
      // staleness clock measures time-since-last-beat, not build
      // length — a live holder of any duration is never broken, a
      // crashed one stops beating and breaks after LeaseTtlMs. Renewal
      // touches ONLY the timestamp (setTimes — atomic metadata op, the
      // token bytes are never rewritten, so a concurrent reader can't
      // observe a torn token), and only while the file still carries
      // OUR token: once a breaker has replaced the lease, freshening
      // the new holder's mtime would be harmless but pointless.
      // Some stores no-op setTimes (and the blanket catch would hide
      // it) — so each beat VERIFIES the mtime actually advanced and
      // otherwise renews via the beat sidecar (overwrite with our
      // token; the staleness clock reads max(lease, matching beat)
      // mtime), logging the degradation once instead of silently
      // letting a live multi-hour build's lease break at the TTL.
      val beatFallback = new java.util.concurrent.atomic.AtomicBoolean()
      def writeBeat(): Unit = {
        val out = fs.create(beatFile, true)
        try out.write(
          myToken.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      val beat = leaseRenewer.scheduleWithFixedDelay(
        () => try {
          if (readToken().contains(myToken)) {
            var renewed = false
            if (!beatFallback.get()) {
              val stampMs = System.currentTimeMillis()
              try {
                fs.setTimes(leasePath, stampMs, -1)
                // granularity headroom: only distrust setTimes when the
                // observed mtime lags the stamp by over a second
                renewed = fs.getFileStatus(leasePath)
                  .getModificationTime + 1000L >= stampMs
              } catch { case _: Exception => () }
              if (!renewed && beatFallback.compareAndSet(false, true))
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"lease mtime renewal is a no-op on $key's filesystem" +
                    " — falling back to the .beat sidecar for heartbeats")
            }
            if (!renewed) writeBeat()
          }
        } catch { case _: Exception => () },
        renewMs, renewMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      try body
      finally {
        beat.cancel(false)
        heldLeases.remove(key)
        // Release ONLY our own incarnation: if we outlived LeaseTtlMs
        // and another writer legitimately broke our lease, the file now
        // carries THEIR token — deleting it would let in a third writer.
        deleteIfToken(myToken)
        // reclaim our beat sidecar ONLY if we ever wrote one (skips an
        // FS read per release on the setTimes happy path, and narrows
        // the read-then-delete window to holders that actually used
        // the fallback), and only while it still carries our token — a
        // stale leftover is harmless either way, because the staleness
        // clock credits a beat only when its token matches the lease's
        if (beatFallback.get() && readFileToken(beatFile).contains(myToken))
          try fs.delete(beatFile, false)
          catch { case _: java.io.IOException => () }
        ()
      }
    }
  }
}
