package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Tracked-materialization registry: the one owner of every block an
  * operator materializes eagerly or caches.
  *
  * Two entry points, one registry:
  *  - [[persist]] caches an intermediate that more than one branch of the
  *    operator's own plan reads (near-dup signature frames, pipeline
  *    funnel stages) — Spark does not reuse an exchange across re-aliased
  *    self-join branches, so without it those pipelines recompute the
  *    expensive prefix once per branch;
  *  - [[checkpoint]] is Spark's eager `localCheckpoint`: it materializes
  *    a frame AND cuts its lineage (fixpoint rounds, GD inputs, recall
  *    curves that must survive a DataFrameWriter recache of the path they
  *    were built from). It stays a checkpoint, never a persist, because
  *    those callers rely on the cut lineage.
  * Either way the frame reaches the caller only transitively (buried
  * inside a lazy DataFrame), so the caller has no handle to free it; the
  * registry is that handle.
  *
  * Contract: after fully consuming the result of an operator (action
  * executed, output written), call [[release]] to free every tracked
  * frame. A persisted frame recomputes on next use, but a checkpoint
  * CANNOT — its lineage is gone — so release must never run while a
  * result built on one is still to be read. Harnesses release once per
  * query, after the result is consumed (Bench, Verify, perfbench); a
  * stream releases per micro-batch through [[scoped]], which frees only
  * what that batch registered and leaves checkpoint-built inputs the
  * caller passed to the stream intact. Fixpoint loops free each round
  * with [[advance]] as soon as its successor is materialized, so the
  * registry holds a loop's live set, not its round count. Leaving frames
  * unreleased is safe for correctness; it only holds memory. */
object GraftCache {
  private type Entry = (Dataset[_], Boolean => Unit)
  private val tracked = new ConcurrentLinkedQueue[Entry]()
  private val scope = new ThreadLocal[ConcurrentLinkedQueue[Entry]]

  private def current = Option(scope.get).getOrElse(tracked)

  private def register[T](ds: Dataset[T], free: Boolean => Unit): Dataset[T] = {
    current.add((ds, free))
    ds
  }

  /** Persist `ds` and register it for the next [[release]]. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist()
    register(p, p.unpersist(_))
  }

  /** Eagerly local-checkpoint `ds` and register it for the next
    * [[release]], which unpersists the checkpoint's RDD blocks. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val cp = ds.localCheckpoint()
    val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    register(cp, rdd.unpersist(_))
  }

  /** [[checkpoint]] the next round of a fixpoint loop, then free
    * `prev` — the tracked round it supersedes. */
  def advance[T](prev: Dataset[_], next: Dataset[T]): Dataset[T] = {
    val cp = checkpoint(next)
    unpersist(prev)
    cp
  }

  /** Free one tracked frame now and stop tracking it. */
  def unpersist(ds: Dataset[_]): Unit = {
    val q = current
    q.asScala.find(_._1 eq ds).foreach(e => if (q.remove(e)) e._2(false))
  }

  /** Number of tracked (not yet released) frames — for tests. */
  def trackedCount: Int = tracked.size()

  /** Runs `body` with its own registry and frees what `body` registered
    * when it returns — a stream's micro-batch. [[release]] on another
    * thread meanwhile does not touch the batch's frames, and the batch's
    * free does not touch frames registered outside it. */
  def scoped[T](body: => T): T = {
    val own = new ConcurrentLinkedQueue[Entry]()
    val outer = scope.get
    scope.set(own)
    try body
    finally {
      scope.set(outer)
      drain(own, blocking = false)
    }
  }

  /** Free every frame registered since the last release.
    *
    * Default is non-blocking (the async path a library caller wants: the
    * blocks disappear when the BlockManager gets to them). Pass
    * `blocking = true` when the NEXT workload's measurement or memory
    * budget depends on the blocks being gone — a non-blocking release lets
    * freed blocks linger into the successor's window, and 100 queries of
    * lingering blocks is exactly the storage-pressure drift that inflated
    * cache-heavy queries 2-3x in full-suite benches (round-5 verdict). */
  def release(blocking: Boolean = false): Unit = drain(tracked, blocking)

  private def drain(q: ConcurrentLinkedQueue[Entry], blocking: Boolean): Unit = {
    var e = q.poll()
    while (e != null) {
      e._2(blocking)
      e = q.poll()
    }
  }
}
