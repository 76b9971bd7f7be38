package graft.queries

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** Marker-checked fixture staging ([[ConverterQueries.stageOnce]]) under
  * concurrent callers: parallel Verify runs gates four at a time, and
  * `text_bm25_serve` and `retrieval_hybrid_serve` stage one BM25 index
  * directory. */
class StageOnceSpec extends AnyFunSuite {
  private implicit val ec: ExecutionContext = ExecutionContext.global

  test("two threads staging one fresh path run the body once") {
    val dir = Files.createTempDirectory("graft-stage-once").resolve("fixture")
    val runs = new AtomicInteger
    val bothIn = new CountDownLatch(2)
    // each body waits (bounded) for a second body to enter: with an
    // unlocked marker check both threads get in; with the per-path lock
    // the second caller waits, then finds the marker and skips
    def stage(): Unit = ConverterQueries.stageOnce(dir.toString) {
      runs.incrementAndGet()
      bothIn.countDown()
      bothIn.await(2, TimeUnit.SECONDS)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("data"), "x")
    }
    // a losing racer also fails its marker write, so count the runs first
    val calls = Seq.fill(2)(Future(stage()))
      .map(f => scala.util.Try(Await.result(f, 30.seconds)))
    assert(runs.get === 1)
    assert(calls.forall(_.isSuccess), calls)
    assert(Files.exists(dir.resolve("_GRAFT_STAGED")))
    stage()
    assert(runs.get === 1)
  }
}
