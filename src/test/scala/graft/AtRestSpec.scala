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
}
