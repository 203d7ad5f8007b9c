package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.MemoRegistry.SessionMemo

/** Concurrency contract of `MemoRegistry.SessionMemo` (build OUTSIDE
  * the map lock, single-flight per key). The builds here are plain
  * values and the memos hold no frames; the properties are about
  * locking.
  */
class MemoGetSpec extends SparkSpec {

  private def fresh() = new SessionMemo[String, Int]()

  test("single-flight: N concurrent callers of one key build once") {
    val memo = fresh()
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val results = new ConcurrentHashMap[Int, Int]()
    val threads = (0 until 16).map { i =>
      new Thread(() => {
        start.await()
        val v = memo(spark, "k") {
          builds.incrementAndGet(); Thread.sleep(50); 42
        }
        results.put(i, v)
      })
    }
    threads.foreach(_.start()); start.countDown()
    threads.foreach(_.join(10000))
    assert(builds.get() == 1, s"build ran ${builds.get()} times")
    assert((0 until 16).forall(results.get(_) == 42))
    // memoized: a later caller is served without building
    assert(memo(spark, "k")(sys.error("rebuilt a memoized key")) == 42)
  }

  test("a slow build does not serialize other keys or map access") {
    val memo = fresh()
    val slowStarted = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new Thread(() => {
      memo(spark, "slow") {
        slowStarted.countDown()
        release.await(10, TimeUnit.SECONDS); 1
      }: Unit
    })
    slow.start()
    assert(slowStarted.await(5, TimeUnit.SECONDS), "slow build never ran")
    // with the build held open: a DIFFERENT key must complete promptly,
    // and evicting the same memo must not wait for the build either
    val t0 = System.nanoTime()
    assert(memo(spark, "fast")(2) == 2)
    memo.evict(spark)
    val heldMs = (System.nanoTime() - t0) / 1e6
    assert(heldMs < 1000, s"blocked ${heldMs}ms behind an unrelated build")
    release.countDown(); slow.join(10000)
    // the build that overlapped the eviction still lands in the memo
    assert(memo(spark, "slow")(sys.error("slow build was lost")) == 1)
    // ...and the eviction did drop the entry that was already there
    assert(memo(spark, "fast")(3) == 3)
  }

  test("a failing build propagates, cleans up, and allows retry") {
    val memo = fresh()
    val boom = intercept[RuntimeException] {
      memo(spark, "k") {
        throw new RuntimeException("boom")
      }: Unit
    }
    assert(boom.getMessage == "boom")
    // the key is not poisoned: no failed future is left in flight and
    // nothing was memoized, so the next call builds again
    val builds = new AtomicInteger(0)
    assert(memo(spark, "k") { builds.incrementAndGet(); 7 } == 7)
    assert(builds.get() == 1)
  }

  test("waiters on a failing build are released, not hung") {
    val memo = fresh()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val failer = new Thread(() => {
      try memo(spark, "k") {
        started.countDown(); release.await(10, TimeUnit.SECONDS)
        throw new RuntimeException("boom")
      }: Unit
      catch { case _: RuntimeException => () }
    })
    failer.start()
    assert(started.await(5, TimeUnit.SECONDS))
    val waiterErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val waiter = new Thread(() => {
      try memo(spark, "k")(99): Unit
      catch { case t: Throwable => waiterErr.set(t) }
    })
    waiter.start()
    Thread.sleep(100) // let the waiter reach join() on the in-flight future
    release.countDown()
    waiter.join(10000); failer.join(10000)
    assert(!waiter.isAlive, "waiter hung behind a failed build")
    assert(waiterErr.get() != null,
      "waiter silently succeeded off a failed build")
  }
}
