package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.AtRest

/** Unit coverage for the shared at-rest protocol seam — the invariants
  * every index family inherits (the family specs assert end-to-end
  * equality; this spec pins the PROTOCOL itself, including the crash
  * windows that only show under injected failures).
  */
class AtRestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Meta = "_test_meta"

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-atrest").toString

  test("ensureStamped builds once per stamp, rebuilds on drift and on " +
      "force, and a build that throws leaves no stamp") {
    val dir = tmp()
    var builds = 0
    def ensure(stamp: String, force: Boolean = false): Boolean =
      AtRest.ensureStamped(spark, dir, Meta, stamp, force) { builds += 1 }
    assert(ensure("s1") && builds == 1)
    assert(!ensure("s1") && builds == 1)
    assert(ensure("s2") && builds == 2)
    assert(ensure("s2", force = true) && builds == 3)
    intercept[RuntimeException] {
      AtRest.ensureStamped(spark, dir, Meta, "s3", force = false) {
        sys.error("boom")
      }
    }
    // drift builds overwrite the relation IN PLACE, so the old stamp
    // comes off BEFORE the build — a crash mid-build leaves a
    // STAMPLESS dir (any later ensure rebuilds cleanly), never the s2
    // stamp over an s3-torn artifact
    assert(AtRest.readStamp(spark, dir, Meta).isEmpty)
    assert(ensure("s3") && builds == 4)
    // ...including a later ensure with the OLD stamp: it must rebuild
    // (the artifact on disk is s3's), not trust the match-by-absence
    assert(ensure("s2") && builds == 5)
  }

  test("extendStamped: covered union no-ops; base match runs the " +
      "mutation with the stamp OFF during it and the union stamp on " +
      "after; anything else rebuilds") {
    val dir = tmp()
    AtRest.ensureStamped(spark, dir, Meta, "base", force = false) {}
    var mutations, rebuilds = 0
    def extend(cover: String, from: String): Boolean =
      AtRest.extendStamped(spark, dir, Meta,
        coversUnion = _ == cover,
        extendFrom = s =>
          if (s == from) Some((cover, () => {
            mutations += 1
            // THE crash-window invariant: while the in-place mutation
            // runs, the sidecar must be stampless — a crash here must
            // force a clean rebuild, never re-extend half-mutated files
            assert(AtRest.readStamp(spark, dir, Meta).isEmpty,
              "stamp must be deleted before the mutation runs")
          })) else None) {
        rebuilds += 1
        AtRest.ensureStamped(spark, dir, Meta, cover, force = true) {}
      }
    // base match → mutation, then the union stamp lands
    assert(extend("union1", "base") && mutations == 1 && rebuilds == 0)
    assert(AtRest.readStamp(spark, dir, Meta).contains("union1"))
    // covered → no-op, nothing runs
    assert(!extend("union1", "whatever") && mutations == 1 && rebuilds == 0)
    // neither covered nor base → rebuild (which stamps for itself)
    assert(extend("union2", "not-union1") && rebuilds == 1)
    assert(AtRest.readStamp(spark, dir, Meta).contains("union2"))
  }

  test("extendStamped crash windows: a throwing mutation OR a throwing " +
      "drift-rebuild leaves a stampless dir (retry = clean rebuild), " +
      "and the stale stamp is gone BEFORE the rebuild block starts") {
    val dir = tmp()
    AtRest.ensureStamped(spark, dir, Meta, "base", force = false) {}
    // mutation throws mid-extension → no stamp survives
    intercept[RuntimeException] {
      AtRest.extendStamped(spark, dir, Meta,
        coversUnion = _ => false,
        extendFrom = s =>
          if (s == "base") Some(("union", () => sys.error("mid-mutation")))
          else None) { sys.error("unreachable") }
    }
    assert(AtRest.readStamp(spark, dir, Meta).isEmpty,
      "a crashed mutation must leave a stampless dir")
    // re-seed, then drive the drift-rebuild arm with a throwing rebuild:
    // the stale stamp must already be GONE when the rebuild block runs
    // (the round-12 ADVICE window: writeDedupIndexLsh overwrote
    // path/bands with the old stamp still present)
    AtRest.ensureStamped(spark, dir, Meta, "stale", force = false) {}
    intercept[RuntimeException] {
      AtRest.extendStamped(spark, dir, Meta,
        coversUnion = _ => false,
        extendFrom = _ => None) {
        assert(AtRest.readStamp(spark, dir, Meta).isEmpty,
          "stale stamp must be deleted before the rebuild block starts")
        sys.error("mid-rebuild")
      }
    }
    assert(AtRest.readStamp(spark, dir, Meta).isEmpty,
      "a crashed drift-rebuild must leave a stampless dir")
  }

  test("statStamped computes once per stamp, serves the stored value, " +
      "and re-computes on stamp drift") {
    val dir = tmp()
    var computes = 0
    def stat(stamp: String, v: Double): Double =
      AtRest.statStamped(spark, dir, Meta, stamp, "v") {
        computes += 1; v
      }
    assert(stat("a", 42.5) == 42.5 && computes == 1)
    // covered stamp: the compute block must not run; the STORED value
    // is served even if the caller's closure would now produce another
    assert(stat("a", -1.0) == 42.5 && computes == 1)
    assert(stat("b", 7.25) == 7.25 && computes == 2)
    assert(stat("a", 3.5) == 3.5 && computes == 3,
      "returning to a prior stamp is still drift — recompute")
  }

  test("compactStamped: preserves the stamp across the mutation, " +
      "runs stampless (crash = clean rebuild), no-ops unstamped, and " +
      "holds the writer lease for the whole window") {
    val dir = tmp()
    assert(!AtRest.compactStamped(spark, dir, Meta) {
      fail("unstamped dir must no-op")
    })
    AtRest.ensureStamped(spark, dir, Meta, "v1", force = false) {}
    var ran = 0
    assert(AtRest.compactStamped(spark, dir, Meta) {
      ran += 1
      assert(AtRest.readStamp(spark, dir, Meta).isEmpty,
        "the mutation window must be stampless")
      assert(new java.io.File(dir, Meta + ".lease").exists(),
        "the writer lease must be held across the mutation")
    })
    assert(ran == 1)
    assert(AtRest.readStamp(spark, dir, Meta).contains("v1"),
      "the SAME stamp must come back after the mutation")
    assert(!new java.io.File(dir, Meta + ".lease").exists())
    // crash mid-mutation → stampless dir, lease released
    intercept[RuntimeException] {
      AtRest.compactStamped(spark, dir, Meta) { sys.error("boom") }
    }
    assert(AtRest.readStamp(spark, dir, Meta).isEmpty)
    assert(!new java.io.File(dir, Meta + ".lease").exists())
  }

  test("concurrent writers: a second writer inside the mutation window " +
      "is refused (never double-extends), a lost race turns into a " +
      "no-op, readers of a covered artifact never touch the lease, and " +
      "a stale lease is broken") {
    val dir = tmp()
    AtRest.ensureStamped(spark, dir, Meta, "base", force = false) {}
    // writer B (another thread) fires while A's mutation is mid-flight:
    // the lease must refuse it — B must neither mutate nor rebuild
    @volatile var bOutcome: Option[Throwable] = None
    @volatile var bMutated = false
    assert(AtRest.extendStamped(spark, dir, Meta,
      coversUnion = _ == "union",
      extendFrom = s =>
        if (s == "base") Some(("union", () => {
          val b = new Thread(() => {
            try AtRest.extendStamped(spark, dir, Meta,
              coversUnion = _ == "union",
              extendFrom = _ => Some(("union", () => bMutated = true))) {
              bMutated = true; true
            }
            catch { case e: Throwable => bOutcome = Some(e) }
          })
          b.start(); b.join()
        })) else None) { fail("A must extend, not rebuild") })
    assert(!bMutated, "second writer must never reach a mutation")
    assert(bOutcome.exists(_.isInstanceOf[IllegalStateException]),
      s"second writer must be refused, got $bOutcome")
    assert(AtRest.readStamp(spark, dir, Meta).contains("union"),
      "A's extension must complete exactly once")
    // the lease is gone after A finishes — released in all paths
    assert(!new java.io.File(dir, Meta + ".lease").exists())
    // lost race → no-op: a writer whose target stamp landed while it
    // waited must re-read under the lease and do nothing
    var rebuilt = false
    assert(!AtRest.extendStamped(spark, dir, Meta,
      coversUnion = _ == "union",
      extendFrom = _ => Some(("union", () =>
        fail("covered union must no-op under the lease")))) {
      rebuilt = true; true
    } && !rebuilt)
    // reader fast path: a covered ensure no-ops with a FRESH foreign
    // lease present (readers are lock-free and never refused)
    val lease = new java.io.File(dir, Meta + ".lease")
    assert(lease.createNewFile())
    assert(!AtRest.ensureStamped(spark, dir, Meta, "union",
      force = false) { fail("covered ensure must not build") })
    // but a WRITER hitting that fresh foreign lease is refused...
    intercept[IllegalStateException] {
      AtRest.ensureStamped(spark, dir, Meta, "v2", force = false) {}
    }
    assert(AtRest.readStamp(spark, dir, Meta).contains("union"))
    // ...until the lease goes stale (crashed holder): then it breaks
    // and the build proceeds
    assert(lease.setLastModified(
      System.currentTimeMillis() - AtRest.LeaseTtlMs - 60000))
    assert(AtRest.ensureStamped(spark, dir, Meta, "v2",
      force = false) {})
    assert(AtRest.readStamp(spark, dir, Meta).contains("v2"))
    assert(!lease.exists(), "broken+released lease must be gone")
  }

  test("lease heartbeat: a LIVE holder whose build outlives the TTL " +
      "keeps exclusivity — the renewer refreshes the mtime so a second " +
      "writer still sees a fresh lease and is refused; a crashed " +
      "holder stops beating and remains breakable") {
    val dir = tmp()
    val lease = new java.io.File(dir, Meta + ".lease")
    @volatile var bErr: Option[Throwable] = None
    @volatile var bMutated = false
    // the holder takes the lease with a 100 ms heartbeat; the nested
    // ensureStamped re-enters it on the same thread
    AtRest.withMutationLease(spark, dir, Meta, renewMs = 100) {
      AtRest.ensureStamped(spark, dir, Meta, "w1", force = false) {
        // simulate a build that has already outlived the TTL: age the
        // lease past the break threshold, then give the heartbeat a
        // few cycles to refresh it
        val aged = System.currentTimeMillis() - AtRest.LeaseTtlMs - 60000
        assert(lease.setLastModified(aged))
        val deadline = System.currentTimeMillis() + 5000
        while (lease.lastModified() <= aged &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(lease.lastModified() > aged,
          "heartbeat must refresh the live holder's lease mtime")
        // a second writer now observes a FRESH lease mid-build and must
        // be refused — the slow-but-alive holder is never broken
        val b = new Thread(() =>
          try AtRest.ensureStamped(spark, dir, Meta, "w2",
            force = false) { bMutated = true }
          catch { case e: Throwable => bErr = Some(e) })
        b.start(); b.join()
      }
    }
    assert(!bMutated, "second writer must not mutate under a live lease")
    assert(bErr.exists(_.isInstanceOf[IllegalStateException]),
      s"second writer must be refused, got $bErr")
    assert(AtRest.readStamp(spark, dir, Meta).contains("w1"))
    assert(!lease.exists(), "release removes the holder's own lease")
    // after release the heartbeat is cancelled: nothing recreates or
    // refreshes the lease file
    Thread.sleep(400)
    assert(!lease.exists(), "a cancelled heartbeat must not resurrect")
  }

  test("beat sidecar: on stores where setTimes is a no-op the holder " +
      "renews via <meta>.lease.beat — a breaker credits the beat's " +
      "mtime ONLY when its token matches the lease's incarnation") {
    val dir = tmp()
    val lease = new java.io.File(dir, Meta + ".lease")
    val beatF = new java.io.File(dir, Meta + ".lease.beat")
    def write(f: java.io.File, s: String): Unit = {
      val w = new java.io.FileWriter(f); try w.write(s) finally w.close()
    }
    // a lease aged past the TTL whose MATCHING beat sidecar is fresh is
    // a LIVE holder on a no-setTimes store: the writer must be refused
    write(lease, "tokA")
    assert(lease.setLastModified(
      System.currentTimeMillis() - AtRest.LeaseTtlMs - 60000))
    write(beatF, "tokA")
    intercept[IllegalStateException] {
      AtRest.ensureStamped(spark, dir, Meta, "v1", force = false) {}
    }
    assert(lease.exists(), "live (beat-fresh) lease must not be broken")
    // the same fresh beat under a DIFFERENT token is a previous
    // incarnation's leftover: it must not freshen the crashed lease
    write(beatF, "tokB")
    assert(AtRest.ensureStamped(spark, dir, Meta, "v1", force = false) {})
    assert(AtRest.readStamp(spark, dir, Meta).contains("v1"))
    assert(!lease.exists(), "stale lease must break despite foreign beat")
    // happy path on a working-setTimes store: the heartbeat renews via
    // mtime alone and never writes the sidecar
    beatF.delete()
    AtRest.withMutationLease(spark, dir, Meta, renewMs = 100) {
      AtRest.ensureStamped(spark, dir, Meta, "v2", force = false) {
        Thread.sleep(400)
        assert(!beatF.exists(),
          "mtime renewal works here — no beat sidecar expected")
      }
    }
  }

  test("lease tokens pin every delete to its incarnation: a holder " +
      "that outlived the TTL and was legitimately broken must NOT " +
      "delete the new holder's lease on exit") {
    val dir = tmp()
    val lease = new java.io.File(dir, Meta + ".lease")
    val bInside = new java.util.concurrent.CountDownLatch(1)
    val releaseB = new java.util.concurrent.CountDownLatch(1)
    @volatile var bErr: Option[Throwable] = None
    val b = new Thread(() => {
      try AtRest.ensureStamped(spark, dir, Meta, "w2", force = false) {
        bInside.countDown()
        releaseB.await()
      }
      catch { case e: Throwable => bErr = Some(e); bInside.countDown() }
    })
    // A acquires, then (simulated) outlives the TTL mid-build; B breaks
    // the stale lease and holds its OWN incarnation while A exits
    AtRest.ensureStamped(spark, dir, Meta, "w1", force = false) {
      assert(lease.setLastModified(
        System.currentTimeMillis() - AtRest.LeaseTtlMs - 60000))
      b.start()
      bInside.await()
      assert(bErr.isEmpty, s"B must break the stale lease, got $bErr")
    }
    // A has released: the lease on disk is B's incarnation, and A's
    // token-checked release must have left it alone — the old
    // unconditional delete here would cascade the breach to a third
    // writer
    assert(lease.exists(),
      "outlived holder deleted the new holder's lease on exit")
    releaseB.countDown()
    b.join()
    assert(bErr.isEmpty)
    assert(AtRest.readStamp(spark, dir, Meta).contains("w2"),
      "B's build completes and stamps after A exits")
    assert(!lease.exists(), "B's own release removes B's lease")
  }

  test("crash matrix: for all six index families a failing build and a " +
      "failing extension leave no stamp, and the retry equals the full " +
      "build over the union row for row") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    import graft.ext.{Dedup, Similarity}
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon zeta"),
      (2L, "s1", "alpha beta gamma delta epsilon eta"),
      (3L, "s2", "totally different text entirely other words here"),
      (10L, "s1", "alpha beta gamma delta epsilon theta"),
      (11L, "s2", "totally different text entirely other words also"),
      (12L, "s2", "an unrelated singleton document body of words"))
      .toDF("doc_id", "source", "text")
    val emb = (0 until 60).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
      .toDF("vec_id", "embedding")
    // a plan that raises inside whatever write evaluates the column
    def poison(df: DataFrame, c: String): DataFrame =
      df.withColumn(c,
        when(col(c).isNotNull, raise_error(lit("poisoned row")))
          .otherwise(col(c)))
    final case class Fam(name: String, all: DataFrame, baseRows: String,
        poisonCol: String, meta: String, rels: Seq[String],
        ensure: (DataFrame, String) => Boolean,
        extend: (DataFrame, DataFrame, String, DataFrame) => Boolean)
    val fams = Seq(
      Fam("exact", docs, "doc_id < 10", "text", "_graft_dedup_meta",
        Seq("pairs", "clusters", "prefix"),
        Dedup.ensureDedupIndex(_, _),
        (b, n, p, _) => Dedup.extendDedupIndex(b, n, p)),
      Fam("lsh", docs, "doc_id < 10", "text", "_graft_dedup_lsh_meta",
        Seq("pairs", "clusters", "bands"),
        Dedup.ensureDedupIndexLsh(_, _),
        (b, n, p, u) => Dedup.extendDedupIndexLsh(b, n, p,
          unionView = Some(u))),
      Fam("cdc", docs, "doc_id < 10", "text", "_graft_cdc_meta",
        Seq("pairs", "chunks"),
        Dedup.ensureCdcIndex(_, _),
        (b, n, p, u) => Dedup.extendCdcIndex(b, n, p, unionView = Some(u))),
      Fam("df", docs, "doc_id < 10", "text", "_graft_df_meta", Seq("df"),
        Dedup.ensureShingleDfIndex(_, _),
        (b, n, p, u) => Dedup.extendShingleDfIndex(b, n, p,
          unionView = Some(u))),
      Fam("ivf", emb, "vec_id < 40", "embedding", "_graft_ivf_meta",
        Seq("", "_centroids"),
        Similarity.ensureIvfIndex(_, _, nCentroids = 4),
        (b, n, p, u) => Similarity.extendIvfIndex(b, n, p, nCentroids = 4,
          unionView = Some(u))),
      Fam("knn", emb, "vec_id < 40", "embedding", "_graft_knn_meta",
        Seq("edges", "cells", "_centroids"),
        Similarity.ensureKnnIndex(_, _, 3),
        (b, n, p, u) => Similarity.extendKnnIndex(b, n, p, 3,
          unionView = Some(u))))
    def rows(dir: String, rel: String): Seq[String] =
      AtRest.read(spark, dir, rel).collect().map(_.toString).sorted.toSeq
    // the failure must be the poison's, raised inside the write
    def failsPoisoned(name: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("poisoned row")),
        s"$name: failed for another reason: $e")
    }
    fams.foreach { f =>
      val base = f.all.filter(f.baseRows)
      val batch = f.all.filter(s"NOT (${f.baseRows})")
      val union = base.union(batch)
      val full = tmp()
      assert(f.ensure(union, full), s"${f.name}: full build")
      def sameAsFull(dir: String): Unit = f.rels.foreach { r =>
        val want = rows(full, r)
        assert(want.nonEmpty && rows(dir, r) == want,
          s"${f.name}: relation '$r' differs from the full build")
      }
      // a build that raises inside its write leaves no stamp; the retry
      // builds the union cleanly
      val built = tmp()
      failsPoisoned(f.name)(f.ensure(poison(union, f.poisonCol), built))
      assert(AtRest.readStamp(spark, built, f.meta).isEmpty,
        s"${f.name}: a failed build must leave no stamp")
      assert(f.ensure(union, built), s"${f.name}: retried build")
      sameAsFull(built)
      // an extension whose batch raises inside the delta leaves no stamp
      // (the base's came off before the mutation); the retry with the
      // good batch finds no base stamp and rebuilds the union
      val extended = tmp()
      assert(f.ensure(base, extended), s"${f.name}: base build")
      failsPoisoned(f.name)(
        f.extend(base, poison(batch, f.poisonCol), extended, union))
      assert(AtRest.readStamp(spark, extended, f.meta).isEmpty,
        s"${f.name}: a failed extension must leave no stamp")
      assert(f.extend(base, batch, extended, union),
        s"${f.name}: retried extension")
      sameAsFull(extended)
    }
  }

  test("reading the hidden _centroids sidecar logs no " +
      "'All paths were ignored' warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import graft.ext.Similarity
    val s = spark
    import s.implicits._
    val emb = (0 until 40).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val ivf = tmp()
    val knn = tmp()
    Similarity.ensureIvfIndex(emb, ivf, nCentroids = 4)
    Similarity.ensureKnnIndex(emb, knn, 3)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[Logger]
    logger.addAppender(capture)
    def ignored(): Int = {
      val n = lines.toArray.count(_.toString.contains("All paths were ignored"))
      lines.clear()
      n
    }
    try {
      // the probe sees the warning a raw read of the sidecar logs
      spark.read.parquet(s"$knn/_centroids").count()
      assert(ignored() > 0, "the capture must see Spark's warning")
      assert(Similarity.readKnnCentroids(spark, knn).count() > 0)
      assert(Similarity.topKIvfIndexed(ivf, emb.limit(3), 2).count() > 0)
      assert(ignored() == 0,
        "centroid reads must not hand Spark an ignored root path")
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
  }

  test("src/main drives the stamped protocol only through the family " +
      "lifecycle in graft/engine/AtRest.scala") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val call = """\b(extendStamped|compactStamped|restampIf)\s*\(""".r
    assert(call.findFirstIn("AtRest.restampIf(spark, p, m)(f)").nonEmpty)
    assert(call.findFirstIn("[[AtRest.extendStamped]]'s").isEmpty)
    val root = Paths.get(sys.props("user.dir"), "src/main")
    assert(Files.isDirectory(root), s"main sources not found under $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val offenders = files
      .filterNot(_.endsWith(Paths.get("graft", "engine", "AtRest.scala")))
      .flatMap { f =>
        val text = new String(Files.readAllBytes(f), "UTF-8")
        call.findAllMatchIn(text).map(m => s"${root.relativize(f)}: ${m.matched}")
      }
    assert(offenders.isEmpty,
      "declare an AtRest.Family and call AtRest.ensure/extend/compact/" +
        s"restamp instead: ${offenders.mkString("; ")}")
  }
}
