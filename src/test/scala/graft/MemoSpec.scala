package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Memo

/** The once-cell properties every program memo relies on, pinned with
  * latches: a build never blocks another key, runs once per key, may
  * build another key, and caches nothing when it throws.
  */
class MemoSpec extends AnyFunSuite {
  private val pool = Executors.newFixedThreadPool(8, r => {
    val t = new Thread(r, "memo-spec"); t.setDaemon(true); t
  })
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
  private val id = Some("corpus")

  private def await[T](f: Future[T]): T = Await.result(f, 60.seconds)

  test("a build of key A held on a latch does not block key B") {
    val m = new Memo[Int]
    val aRunning = new CountDownLatch(1)
    val releaseA = new CountDownLatch(1)
    val a = Future(m(id, "a") { aRunning.countDown(); releaseA.await(); 1 })
    assert(aRunning.await(60, TimeUnit.SECONDS))
    // B completes while A's build still holds its cell
    assert(await(Future(m(id, "b")(2))) == 2)
    assert(m.contains(id, "b") && !m.contains(id, "a"))
    releaseA.countDown()
    assert(await(a) == 1 && m.size == 2)
  }

  test("N concurrent callers of one key run its build once") {
    val m = new Memo[Int]
    val n = 8
    val calling = new CountDownLatch(n)
    val builds = new AtomicInteger()
    val all = (0 until n).map(_ => Future {
      calling.countDown()
      m(id, "k") {
        // every caller has reached the memo before the build finishes
        calling.await()
        builds.incrementAndGet()
      }
    })
    assert(all.map(await).toSet == Set(1))
    assert(builds.get == 1 && m.size == 1)
  }

  test("a nested build of another key completes and is cached") {
    val m = new Memo[Int]
    val outer = await(Future(m(id, "labels")(m(id, "pairs")(20) + 1)))
    assert(outer == 21)
    assert(m.contains(id, "pairs") && m.contains(id, "labels"))
    assert(m(id, "pairs")(sys.error("cached")) == 20)
  }

  test("a build that throws caches nothing and the next call builds " +
      "again; a corpus without identity is never cached") {
    val m = new Memo[Int]
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      m(id, "k") { builds.incrementAndGet(); throw new IllegalStateException }
    }
    assert(!m.contains(id, "k") && m.size == 0)
    assert(m(id, "k") { builds.incrementAndGet(); 7 } == 7)
    assert(builds.get == 2 && m(id, "k")(0) == 7)
    assert(m(None, "k")(1) == 1 && m(None, "k")(2) == 2)
    assert(!m.contains(None, "k") && m.size == 1)
    m.clear()
    assert(m.size == 0 && m(id, "k")(3) == 3)
  }
}
