package graft.cache

import com.google.common.cache.{Cache, CacheBuilder}

import java.util.concurrent.{Callable, TimeUnit}

/** Retry with bounded backoff, bailing on client errors.
  *
  * Policy port of the reference (reference:
  * src/glue-table-cache.ts:192-195 — `async-retry` with 3 retries,
  * 200-500 ms backoff, bail on HTTP 400/403 / "HTTP 40" messages).
  */
object Retry {
  final class BailException(cause: Throwable) extends RuntimeException(cause)

  def isClientError(e: Throwable): Boolean = {
    val m = Option(e.getMessage).getOrElse("")
    m.contains("HTTP 40") || m.contains("status code: 400") || m.contains("status code: 403")
  }

  def withRetry[T](retries: Int = 3, minDelayMs: Long = 200, maxDelayMs: Long = 500)(f: => T): T = {
    var attempt = 0
    var delay = minDelayMs
    while (true) {
      try return f
      catch {
        case e: Throwable if isClientError(e) => throw e // bail: no retry on 4xx
        case e: Throwable =>
          attempt += 1
          if (attempt > retries) throw e
          Thread.sleep(delay)
          delay = math.min(maxDelayMs, delay * 2)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** LRU + TTL cache with single-flight loads and short-TTL negative
  * caching.
  *
  * Mirrors the reference's two `LRUCache` instances with per-key
  * mutexes (reference: src/glue-table-cache.ts:34-44, 75-84,
  * 135-204): bounded entries, expire-after-write TTL, and a
  * guarantee that concurrent readers of the same missing key trigger
  * exactly one load (Guava's `get(key, loader)` gives this).
  *
  * Failed loads are cached for `errorTtlMs` (0 disables): the
  * reference stores the error in the entry so queued waiters fail
  * fast with it (src/glue-table-cache.ts:163-167, 183-199) — without
  * it, a thundering herd against a down catalog endpoint retries once
  * per caller. Unlike the reference, the error entry expires on its
  * own short deadline rather than the full TTL, so a recovered
  * backend is retried promptly — safer for a long-lived driver.
  */
final class TtlCache[V <: AnyRef](maxEntries: Int, ttlMs: Long, errorTtlMs: Long = 0L) {
  private final case class FailedLoad(error: Throwable, expiresAtMs: Long)

  private val underlying: Cache[String, AnyRef] = CacheBuilder.newBuilder()
    .maximumSize(maxEntries.toLong)
    .expireAfterWrite(ttlMs, TimeUnit.MILLISECONDS)
    .build[String, AnyRef]()

  // Serializes the expired-negative-entry invalidation (see get):
  // without it two callers can both observe the expired failure, both
  // invalidate, and run DUPLICATE loads — the second invalidate
  // discards the first caller's in-flight loading entry.
  private val expiryStripes = com.google.common.util.concurrent.Striped.lock(64)

  /** Single-flight get-or-load. Loader exceptions are unwrapped so
    * callers see the original error surface, not Guava's wrapper.
    */
  def get(key: String)(load: => V): V = {
    val entry =
      try underlying.get(key, new Callable[AnyRef] {
        def call(): AnyRef =
          if (errorTtlMs <= 0) load
          else
            try load
            catch {
              // NonFatal only: an OOME or interrupt must propagate (and
              // keep the interrupt status), not be replayed to every
              // caller for the negative-TTL window
              case scala.util.control.NonFatal(e) =>
                FailedLoad(e, System.currentTimeMillis() + errorTtlMs)
            }
      })
      catch {
        case e: com.google.common.util.concurrent.UncheckedExecutionException
          if e.getCause != null => throw e.getCause
        case e: java.util.concurrent.ExecutionException
          if e.getCause != null => throw e.getCause
      }
    entry match {
      case FailedLoad(err, deadline) =>
        if (System.currentTimeMillis() >= deadline) {
          // Negative entry expired: retry the load. Invalidate under a
          // per-key stripe lock, re-checking first — a concurrent
          // caller may already have invalidated and started the fresh
          // load (getIfPresent returns null while it's in flight), and
          // a second invalidate here would discard that loading entry
          // and duplicate the load instead of joining it.
          val lock = expiryStripes.get(key)
          lock.lock()
          try underlying.getIfPresent(key) match {
            case FailedLoad(_, d) if System.currentTimeMillis() >= d => underlying.invalidate(key)
            case _ => ()
          } finally lock.unlock()
          get(key)(load)
        } else throw err
      case v => v.asInstanceOf[V]
    }
  }

  def getIfPresent(key: String): Option[V] =
    Option(underlying.getIfPresent(key)).collect {
      case v if !v.isInstanceOf[FailedLoad] => v.asInstanceOf[V]
    }
  def invalidate(key: String): Unit = underlying.invalidate(key)
  def invalidateAll(): Unit = underlying.invalidateAll()

  /** Drop every key starting with `prefix`. The reference drops every
    * key CONTAINING the table name (reference:
    * src/glue-table-cache.ts:206-215), which also drops the entries of
    * every table whose name contains it; a prefix names one table's
    * keys exactly.
    */
  def invalidateMatching(prefix: String): Unit = {
    val it = underlying.asMap().keySet().iterator()
    val toDrop = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) { val k = it.next(); if (k.startsWith(prefix)) toDrop += k }
    toDrop.foreach(underlying.invalidate)
  }

  def size: Long = underlying.size()
}
