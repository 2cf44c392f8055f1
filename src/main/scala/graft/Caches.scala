package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** Lifecycle registry for operator-persisted shared frames.
  *
  * Operators persist() intermediate frames that several consumers inside
  * one query (or several queries over the same corpus) share — the ANN
  * norm frame, shingle sets, token counts. Raw `.persist()` has no
  * lifecycle: entries accumulate for the whole session, and at cluster
  * scale an unbounded cache of corpus-derived frames is eviction churn
  * waiting to happen. Every operator persist therefore routes through
  * [[persist]] here, and the harness (Bench per timed query, Verify per
  * dumped query, a deployment per pipeline stage) closes the scope with
  * [[releaseScope]] once the consuming actions finish.
  *
  * Two modes:
  *  - scoped (default): [[releaseScope]] unpersists everything persisted
  *    since the last release. Cache occupancy is bounded by ONE query's
  *    working set; per-query timings are attributable (nothing warm
  *    leaks in from an earlier query).
  *  - artifact mode ([[artifactMode]] = true): [[releaseScope]] is a
  *    no-op, mirroring a deployment where shared artifacts (the norm
  *    frame, the LSH index) live beside the table across the whole run;
  *    [[releaseAll]] still ends the session's cache explicitly.
  *
  * Local checkpoints register here too (see [[Checkpoints]]): a released
  * local checkpoint frees its blocks AND its lineage, so frames built on
  * it must not outlive the scope — true by construction for the
  * per-query scopes the harnesses close.
  *
  * Memo policy: the per-corpus driver-side memos (trained models and
  * memo-built index paths, [[graft.operators.Artifact.Memo]]) are NOT
  * cached frames and are not scoped here. A memo is an artifact keyed
  * by the corpus fingerprint: it survives [[releaseScope]] in both
  * modes and is dropped only by `Artifact.clearMemos()` — which
  * [[Bench]] calls before each query's first rep, so `first` pays for
  * the query's own training whatever ran before it.
  */
object Caches {
  private val live = new ConcurrentLinkedQueue[Either[RDD[_], Dataset[_]]]()

  /** Opt-in cross-query artifact reuse (deployment model). Off by
    * default so each harness scope is self-contained.
    */
  @volatile var artifactMode: Boolean = false

  /** persist() + register for scope release. Storage level is Spark's
    * Dataset default (MEMORY_AND_DISK), same as the raw calls it
    * replaces.
    */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    live.add(Right(ds))
    ds
  }

  /** Register an already-persisted RDD (local-checkpoint blocks) for
    * scope release.
    */
  def trackRdd(rdd: RDD[_]): Unit = live.add(Left(rdd))

  /** Unpersist one registered RDD now and drop it from the scope — for
    * a caller that owns the entry (a write path's local checkpoint) and
    * has run its last action on it.
    */
  def releaseRdd(rdd: RDD[_]): Unit = {
    live.remove(Left(rdd))
    rdd.unpersist(false)
  }

  /** End the current scope: unpersist every registered entry unless
    * [[artifactMode]] keeps them as cross-query artifacts.
    */
  def releaseScope(): Unit = if (!artifactMode) releaseAll()

  /** Unconditionally unpersist every registered entry (non-blocking).
    * Entries whose plan another registered frame shared unpersist as
    * no-ops the second time.
    */
  def releaseAll(): Unit = {
    var e = live.poll()
    while (e != null) {
      e match {
        case Right(ds) => ds.unpersist(false)
        case Left(rdd) => rdd.unpersist(false)
      }
      e = live.poll()
    }
  }

  /** Registered-entry count — the bound CacheLifecycleSpec pins. */
  def liveCount: Int = live.size
}
