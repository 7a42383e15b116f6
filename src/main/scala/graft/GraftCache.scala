package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Dataset

/** Tracked-cache registry: the release handle for operator-persisted frames.
  *
  * Several operators persist() intermediates that more than one branch of
  * their own plan reads (near-dup signature frames, pipeline funnel stages) —
  * Spark does not reuse an exchange across re-aliased self-join branches, so
  * without the persist those pipelines recompute the expensive prefix once
  * per branch. The persisted frame is returned to the caller only
  * transitively (buried inside a lazy DataFrame), so the caller has no
  * handle to unpersist it; in a long-running session that would be unbounded
  * cache growth.
  *
  * Contract: every operator-internal persist goes through [[persist]], which
  * registers the frame here. After fully consuming the result of a
  * cache-using operator (action executed, output written), call [[release]]
  * to drop every tracked frame. Release is cheap (non-blocking unpersist)
  * and always safe — an unpersisted frame simply recomputes on next use —
  * so harnesses call it once per query (Bench and Verify do). Leaving
  * frames unreleased is also safe for correctness; it only holds memory.
  */
object GraftCache {
  private val tracked = new ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist `ds` and register it for the next [[release]]. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist()
    tracked.add(p)
    p
  }

  /** Number of tracked (not yet released) frames — for tests. */
  def trackedCount: Int = tracked.size()

  /** Unpersist every frame registered since the last release.
    *
    * Default is non-blocking (the async path a library caller wants: the
    * blocks disappear when the BlockManager gets to them). Pass
    * `blocking = true` when the NEXT workload's measurement or memory
    * budget depends on the blocks being gone — a non-blocking release lets
    * freed blocks linger into the successor's window, and 100 queries of
    * lingering blocks is exactly the storage-pressure drift that inflated
    * cache-heavy queries 2-3x in full-suite benches (round-5 verdict). */
  def release(blocking: Boolean = false): Unit = {
    var d = tracked.poll()
    while (d != null) {
      d.unpersist(blocking)
      d = tracked.poll()
    }
  }
}
