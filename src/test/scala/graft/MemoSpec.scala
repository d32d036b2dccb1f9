package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.storage.StorageLevel
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The registry's contract: one build per key under concurrency, no
  * blocking across keys, nested lookups, retry after a failed build,
  * and the two releases. Each test uses its own kinds and dirs, so the
  * suite's shared session can hold other suites' entries too. */
class MemoSpec extends SparkSpec {

  private def withPool[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("concurrent callers of one key build it once, and the counters say so") {
    val builds = new AtomicInteger
    val got = withPool(8) { implicit ec =>
      val calls = (1 to 8).map(_ => Future {
        Memo(spark, "memo-spec-once", "memo-spec/once") {
          builds.incrementAndGet(); Thread.sleep(200); 42
        }
      })
      Await.result(Future.sequence(calls), 30.seconds)
    }
    assert(got === Seq.fill(8)(42))
    assert(builds.get === 1)
    val s = Memo.stats("memo-spec-once")
    assert(s.misses === 1 && s.hits === 7)
    assert(s.buildSeconds >= 0.2)
  }

  test("a slow build does not block a different key") {
    val started, gate = new CountDownLatch(1)
    withPool(1) { implicit ec =>
      val slow = Future {
        Memo(spark, "memo-spec-slow", "memo-spec/slow-a") {
          started.countDown(); gate.await(); "a"
        }
      }
      assert(started.await(30, TimeUnit.SECONDS))
      // the slow build still holds its key; another key must not wait
      val other = Future(Memo(spark, "memo-spec-slow", "memo-spec/slow-b")("b"))(
        ExecutionContext.global)
      assert(Await.result(other, 10.seconds) === "b")
      assert(!slow.isCompleted)
      gate.countDown()
      assert(Await.result(slow, 30.seconds) === "a")
    }
  }

  test("a build may look up other entries") {
    val v = Memo(spark, "memo-spec-outer", "memo-spec/nested") {
      Memo(spark, "memo-spec-inner", "memo-spec/nested")(20) +
        Memo(spark, "memo-spec-inner", "memo-spec/nested", 1)(21) + 1
    }
    assert(v === 42)
  }

  test("a build that throws is retried on the next call") {
    val builds = new AtomicInteger
    def lookup(): Int = Memo(spark, "memo-spec-retry", "memo-spec/retry") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      7
    }
    assert(intercept[IllegalStateException](lookup()).getMessage === "first build fails")
    assert(lookup() === 7)
    assert(lookup() === 7)
    assert(builds.get === 2)
  }

  test("release unpersists a cached frame and drops every entry") {
    val df = Memo(spark, "memo-spec-cache", "memo-spec/cache")(
      spark.range(10).toDF("x").cache())
    assert(df.count() === 10)
    assert(df.storageLevel !== StorageLevel.NONE)
    Memo.release()
    assert(df.storageLevel === StorageLevel.NONE)
    assert(!Memo.dirs.contains("memo-spec/cache"))
  }

  test("releaseDir drops only the entries that read that directory") {
    val builds = new AtomicInteger
    def lookup(kind: String, dir: String): String =
      Memo(spark, kind, dir) { builds.incrementAndGet(); dir }
    lookup("memo-spec-dir-x", "memo-spec/dir-a")
    lookup("memo-spec-dir-y", "memo-spec/dir-a")
    lookup("memo-spec-dir-x", "memo-spec/dir-b")
    assert(builds.get === 3)
    Memo.releaseDir("memo-spec/dir-a")
    assert(!Memo.dirs.contains("memo-spec/dir-a"))
    assert(Memo.dirs.contains("memo-spec/dir-b"))
    lookup("memo-spec-dir-x", "memo-spec/dir-b")
    assert(builds.get === 3, "the other directory's entry survives")
    lookup("memo-spec-dir-x", "memo-spec/dir-a")
    lookup("memo-spec-dir-y", "memo-spec/dir-a")
    assert(builds.get === 5, "both kinds of the released directory rebuild")
  }
}
