package graft.engine

import org.apache.spark.sql.SparkSession

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

  /** Run `build` only when the sidecar `path/metaName` is absent or its
    * content differs from `stamp` (or `force`). `force` is the
    * out-of-band-mutation hatch: data fingerprints typically see only
    * file (path, length, mtime), so a rewrite preserving sizes within
    * mtime granularity — or an object-store restore preserving mtimes —
    * needs an explicit rebuild lever. Returns true when a (re)build
    * happened.
    */
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
    * four at-rest families (exact dedup pairs, LSH dedup keys, kNN
    * edges+centroids, IVF corpus) cannot drift apart:
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
  def extendStamped(spark: SparkSession, path: String, metaName: String,
      coversUnion: String => Boolean,
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
  def restampIf(spark: SparkSession, path: String, metaName: String)(
      rewrite: String => Option[String]): Boolean =
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
  def compactStamped(spark: SparkSession, path: String,
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
