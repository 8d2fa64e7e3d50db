package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Par

class ParSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("Par.all branches see the caller's current Spark local " +
      "properties on every call, not those of an earlier call") {
    val sc = spark.sparkContext
    val key = "graft.par.spec"
    try for (v <- Seq("first", "second")) {
      sc.setLocalProperty(key, v)
      val seen = new ConcurrentLinkedQueue[String]()
      Par.all(() => seen.add(sc.getLocalProperty(key)),
        () => seen.add(sc.getLocalProperty(key)))
      assert(seen.asScala.toList == List(v, v), s"under '$v'")
      // a later call meets idle threads from this one, if any were kept
      Thread.sleep(100)
    } finally sc.setLocalProperty(key, null)
  }

  test("Par.all waits for every branch and throws the first failure " +
      "with the other failures attached as suppressed") {
    val first = new IllegalStateException("branch 0")
    val second = new IllegalArgumentException("branch 2")
    val finished = new AtomicInteger(0)
    val thrown = intercept[IllegalStateException] {
      Par.all(() => throw first,
        () => { Thread.sleep(200); finished.incrementAndGet(); () },
        () => throw second)
    }
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq == Seq(second))
    assert(finished.get == 1, "the slow branch must finish before the throw")
  }

  test("Par.both returns each branch's result, runs the two branches " +
      "concurrently, and fails like Par.all") {
    val started = new CountDownLatch(2)
    def meet(): Boolean = {
      started.countDown()
      started.await(5, TimeUnit.SECONDS)
    }
    val (a, b) = Par.both(() => (meet(), "left"), () => (meet(), 2))
    assert(a == (true, "left") && b == (true, 2),
      "each branch waits for the other to start, so both ran at once")

    val left = new IllegalStateException("left")
    val right = new IllegalArgumentException("right")
    val thrown = intercept[IllegalStateException] {
      Par.both(() => throw left, () => throw right)
    }
    assert((thrown eq left) && thrown.getSuppressed.toSeq == Seq(right))
  }
}
