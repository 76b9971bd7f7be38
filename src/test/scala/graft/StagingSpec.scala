package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The once-per-JVM fixture staging rule ([[Staging.once]]). Keys are
  * made unique per test, since the staged set lives for the JVM. */
class StagingSpec extends AnyFunSuite {
  private implicit val ec: ExecutionContext = ExecutionContext.global
  private def key(name: String) = s"staging-spec|$name|${java.util.UUID.randomUUID()}"

  test("one key from two threads: the body runs once and both get its value") {
    val k = key("same")
    val runs = new AtomicInteger
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val first = Future(Staging.once(k) {
      runs.incrementAndGet(); entered.countDown(); release.await(); "staged"
    })
    assert(entered.await(10, TimeUnit.SECONDS))
    val second = Future(Staging.once(k) { runs.incrementAndGet(); "again" })
    Thread.sleep(200) // the second caller is now waiting on the key
    assert(!second.isCompleted)
    release.countDown()
    assert(Await.result(first, 10.seconds) === "staged")
    assert(Await.result(second, 10.seconds) === "staged")
    assert(runs.get === 1)
    assert(Staging.once(k)("later") === "staged")
  }

  test("a body that stages a second key completes") {
    val (outer, inner) = (key("outer"), key("inner"))
    val v = Staging.once(outer)(Staging.once(inner)(20) + 1)
    assert(v === 21)
    assert(Staging.once(inner)(0) === 20)
    assert(Staging.once(outer)(0) === 21)
  }

  test("a slow key does not block a different key") {
    val slow = key("slow")
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val held = Future(Staging.once(slow) { entered.countDown(); release.await(); 1 })
    assert(entered.await(10, TimeUnit.SECONDS))
    try assert(Await.result(Future(Staging.once(key("fast"))(2)), 5.seconds) === 2)
    finally release.countDown()
    assert(Await.result(held, 10.seconds) === 1)
  }

  test("a body that throws is not remembered: the next call runs it again") {
    val k = key("throws")
    val runs = new AtomicInteger
    intercept[IllegalStateException] {
      Staging.once(k) { runs.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(Staging.once(k) { runs.incrementAndGet(); "ok" } === "ok")
    assert(runs.get === 2)
  }
}
