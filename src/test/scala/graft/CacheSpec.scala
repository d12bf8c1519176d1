package graft

import graft.cache.{Retry, TtlCache}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** Port of the reference's cache-behavior layer (reference:
  * test/glue-table-cache.test.ts:20-67, 266-298): TTL expiry,
  * invalidation rules, single-flight, retry counts, 4xx bail.
  */
class CacheSpec extends AnyFunSuite {

  test("TTL expiry reloads (reference 100ms-TTL test)") {
    val cache = new TtlCache[String](10, ttlMs = 100)
    val loads = new AtomicInteger(0)
    def get() = cache.get("k") { loads.incrementAndGet(); "v" }
    get(); get()
    assert(loads.get() == 1)
    Thread.sleep(150)
    get()
    assert(loads.get() == 2)
  }

  test("invalidateMatching drops only keys starting with the prefix") {
    val cache = new TtlCache[String](10, 60000)
    Seq("db.tbl#v0", "db.tbl#v1", "db.tbl_wide#v0", "xdb.tbl#v0", "db.other#v0")
      .foreach(k => cache.get(k)(k))
    cache.invalidateMatching("db.tbl#v")
    assert(cache.getIfPresent("db.tbl#v0").isEmpty && cache.getIfPresent("db.tbl#v1").isEmpty)
    // a key merely CONTAINING the prefix's table name stays
    Seq("db.tbl_wide#v0", "xdb.tbl#v0", "db.other#v0")
      .foreach(k => assert(cache.getIfPresent(k).contains(k), k))
  }

  test("single-flight: concurrent gets load once") {
    val cache = new TtlCache[String](10, 60000)
    val loads = new AtomicInteger(0)
    val threads = (1 to 8).map { _ =>
      new Thread(() => cache.get("k") { Thread.sleep(50); loads.incrementAndGet(); "v" })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(loads.get() == 1)
  }

  test("negative cache: concurrent getters share one failed load, expiry retries") {
    val cache = new TtlCache[String](10, 60000, errorTtlMs = 150)
    val loads = new AtomicInteger(0)
    val errors = new AtomicInteger(0)
    def failingGet(): Unit =
      try { cache.get("k") { Thread.sleep(50); loads.incrementAndGet(); throw new RuntimeException("down") }; () }
      catch { case e: RuntimeException if e.getMessage == "down" => errors.incrementAndGet() }
    // N concurrent getters -> exactly one load attempt, all see the error
    val threads = (1 to 8).map(_ => new Thread(() => failingGet()))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(loads.get() == 1 && errors.get() == 8)
    // within the error TTL: fail fast from the cached error, no reload
    failingGet()
    assert(loads.get() == 1 && errors.get() == 9)
    // after expiry: the load is retried (and can now succeed)
    Thread.sleep(200)
    val recovered = cache.get("k") { loads.incrementAndGet(); "ok" }
    assert(recovered == "ok" && loads.get() == 2)
  }

  test("expired negative entry: concurrent retriers run exactly one load") {
    val cache = new TtlCache[String](10, 60000, errorTtlMs = 50)
    val loads = new AtomicInteger(0)
    intercept[RuntimeException](cache.get("k") { throw new RuntimeException("down") }: Unit)
    Thread.sleep(80) // let the negative entry expire
    // every caller observes the SAME expired failure, then races to
    // invalidate-and-reload; the stripe lock must collapse that to one
    // slow load the rest join (pre-fix: each invalidate discarded the
    // previous caller's in-flight loading entry => duplicate loads)
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 8).map(_ => new Thread(() => {
      start.await()
      results.add(cache.get("k") { Thread.sleep(200); loads.incrementAndGet(); "ok" })
    }))
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(loads.get() == 1, s"expected one recovery load, got ${loads.get()}")
    assert(results.size == 8 && results.toArray.forall(_ == "ok"))
  }

  test("negative cache disabled (errorTtlMs=0): every get retries the loader") {
    val cache = new TtlCache[String](10, 60000)
    val loads = new AtomicInteger(0)
    (1 to 3).foreach { _ =>
      intercept[RuntimeException](cache.get("k") { loads.incrementAndGet(); throw new RuntimeException("x") }: Unit)
    }
    assert(loads.get() == 3)
  }

  test("retry: 3 retries then propagate (4 calls total, reference policy)") {
    val calls = new AtomicInteger(0)
    val e = intercept[RuntimeException] {
      Retry.withRetry(retries = 3, minDelayMs = 1, maxDelayMs = 2) {
        calls.incrementAndGet(); throw new RuntimeException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(calls.get() == 4)
  }

  test("retry: bail immediately on 4xx-style errors (reference bail on 'HTTP 40')") {
    val calls = new AtomicInteger(0)
    intercept[RuntimeException] {
      Retry.withRetry(retries = 3, minDelayMs = 1, maxDelayMs = 2) {
        calls.incrementAndGet(); throw new RuntimeException("HTTP 403 Forbidden")
      }
    }
    assert(calls.get() == 1)
  }

  test("retry: succeeds after transient failures") {
    val calls = new AtomicInteger(0)
    val out = Retry.withRetry(retries = 3, minDelayMs = 1, maxDelayMs = 2) {
      if (calls.incrementAndGet() < 3) throw new RuntimeException("flaky") else "ok"
    }
    assert(out == "ok" && calls.get() == 3)
  }
}
