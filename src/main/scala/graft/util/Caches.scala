package graft.util

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame

/** Registry of intermediates persisted INSIDE graft operators (LSH
  * candidate sets, funnel stage frames, CC label/edge rounds). The
  * operators persist because their intermediate is referenced several
  * times in the returned plan — but the persist call is invisible to
  * the caller, so without this registry a long-lived session that
  * invokes them repeatedly accumulates MEMORY_AND_DISK entries until
  * the ContextCleaner notices the frames are unreachable (GC-timed) or
  * the caller nukes everything with `spark.catalog.clearCache()`
  * (which also evicts unrelated, caller-owned caches — and misses
  * RDD-level persists entirely).
  *
  * [[releaseAll]] is the precise middle ground: eagerly release
  * exactly the operator-internal entries, nothing else. Call it AFTER
  * materializing the operator's result (count/collect/write).
  * Persisted and cut entries stay valid afterwards (they re-execute
  * from lineage if reused) — but locally severed entries
  * ([[Lineage.sever]]) are DESTRUCTIVE: a locally-checkpointed frame
  * has no lineage to recompute from, so reusing it after releaseAll
  * fails with checkpoint-block-not-found. The contract is therefore:
  * between releaseAll and the next query, no frame returned by an
  * operator may be re-executed. Entries are registered only through
  * [[Lineage]]. Thread-safe; every release runs at most once.
  */
object IntermediateCaches {
  private final class Entry(val df: DataFrame, val release: Boolean => Unit)
  private val tracked = new ConcurrentLinkedQueue[Entry]()

  /** Register the release of a materialized `df`; returns `df`. */
  private[util] def track(df: DataFrame, release: Boolean => Unit): DataFrame = {
    tracked.add(new Entry(df, release))
    df
  }

  /** Release the entries registered for `df` (identity) now. */
  private[util] def release(df: DataFrame, blocking: Boolean): Unit =
    tracked.forEach(e => if ((e.df eq df) && tracked.remove(e)) e.release(blocking))

  /** Eagerly release every tracked operator-internal cache. */
  def releaseAll(blocking: Boolean = false): Unit = {
    var e = tracked.poll()
    while (e != null) {
      e.release(blocking)
      e = tracked.poll()
    }
  }

  /** Number of currently tracked (not yet released) intermediates. */
  def trackedCount: Int = tracked.size()
}
