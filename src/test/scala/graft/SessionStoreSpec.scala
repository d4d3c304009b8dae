package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `SessionStore`'s fill contract, without running a Spark job (the
  * session only supplies the applicationId). "Aa" and "BB" have the same
  * String hash, so their entries share a hash bin of the store's map —
  * the case where a fill run inside the map's bin lock would block the
  * other key or throw on a nested fill.
  */
class SessionStoreSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = SparkTestSession.spark
  private val pool = Executors.newFixedThreadPool(8)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  override def afterAll(): Unit = { pool.shutdownNow(); () }

  test("eight threads on one key fill once and bill the ledger once") {
    val calls = new AtomicInteger()
    val go = new CountDownLatch(1)
    val reads = (1 to 8).map(_ => Future {
      go.await()
      SessionStore.fill(spark, "spec_once", "k") {
        calls.incrementAndGet(); Thread.sleep(300); 42
      }
    })
    go.countDown()
    assert(Await.result(Future.sequence(reads), 30.seconds) === Seq.fill(8)(42))
    assert(calls.get === 1)
    // one bill of the ~0.3 s body; billing each caller's wait would sum
    // to about 2.4 s
    assert(CacheFills.snapshot("spec_once@k") < 0.6)
  }

  test("a fill blocked on a latch does not block a second key") {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = Future(SessionStore.fill(spark, "spec_block", "Aa") {
      started.countDown(); release.await(); "a"
    })
    assert(started.await(10, TimeUnit.SECONDS))
    try {
      val fast = Future(SessionStore.fill(spark, "spec_block", "BB")("b"))
      assert(Await.result(fast, 10.seconds) === "b")
    } finally release.countDown()
    assert(Await.result(slow, 10.seconds) === "a")
  }

  test("a fill that calls another fill of the store returns") {
    val v = SessionStore.fill(spark, "spec_nested", "Aa") {
      SessionStore.fill(spark, "spec_nested", "BB")(1) + 1
    }
    assert(v === 2)
  }

  test("a throwing fill leaves no entry and the next call refills") {
    val calls = new AtomicInteger()
    intercept[IllegalStateException] {
      SessionStore.fill(spark, "spec_throw", "k") {
        calls.incrementAndGet(); throw new IllegalStateException("boom")
      }
    }
    assert(!CacheFills.snapshot.contains("spec_throw@k"))
    assert(SessionStore.fill(spark, "spec_throw", "k") {
      calls.incrementAndGet(); 7
    } === 7)
    assert(calls.get === 2)
    assert(CacheFills.snapshot.contains("spec_throw@k"))
  }

  test("after invalidate the next call refills") {
    val calls = new AtomicInteger()
    def read() = SessionStore.memo(spark, "spec_invalidate", "k")(calls.incrementAndGet())
    assert(read() === 1)
    assert(read() === 1)
    SessionStore.invalidate(spark, "spec_invalidate", "k")
    assert(read() === 2)
  }
}
