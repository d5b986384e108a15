package graft

import org.apache.spark.sql.Dataset

/** Scoped lifetime for query-path caches: a cache left in a shared
  * session inflates the NEXT query's timing and accretes blocks.
  *
  * The query functions return LAZY frames, so they cannot unpersist
  * their own intermediates — the cache must survive until the caller
  * materializes the result. This registry closes that gap: a query
  * function marks each intermediate with [[ScopedCacheOps.scopedCache]]
  * instead of `.cache()`, and the CONSUMER ([[Harness.run]] — or any
  * library user, per the contract below) calls [[release]] once the
  * result is consumed. Release is a blocking unpersist, so
  * `sparkContext.getPersistentRDDs` is deterministically empty
  * afterwards (asserted per leak-site query in CacheLifecycleSpec).
  *
  * Library contract: after consuming the frame returned by a registry
  * query, call `CacheScope.release()`. Skipping it is safe for a
  * one-off session (Spark evicts LRU) but leaks cached blocks into
  * long-lived sessions exactly like a missing `unpersist` would.
  * The registry is session-global, sized for ONE consumer at a time
  * (Harness.run callers are sequential): a release() issued while
  * another thread's query is mid-flight unpersists that query's
  * caches too — never wrong results (Spark recomputes), but the work
  * is repaid. Concurrent consumers should serialize their
  * consume-then-release sections. */
object CacheScope {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Cache `ds` and track it for the next [[release]]. */
  def cached[T](ds: Dataset[T]): Dataset[T] = { ds.cache(); live.add(ds); ds }

  /** Blocking-unpersist every tracked frame (newest first — later
    * frames usually derive from earlier ones) and empty the registry. */
  def release(): Unit = {
    val all = new scala.collection.mutable.ArrayBuffer[Dataset[_]]()
    var d = live.poll()
    while (d != null) { all += d; d = live.poll() }
    all.reverseIterator.foreach(ds => ds.unpersist(blocking = true))
  }

  implicit final class ScopedCacheOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** `.cache()` whose lifetime ends at the consumer's
      * [[CacheScope.release]] — use for every query-path cache. */
    def scopedCache(): Dataset[T] = cached(ds)
  }
}
