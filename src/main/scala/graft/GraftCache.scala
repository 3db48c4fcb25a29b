package graft

import org.apache.spark.sql.DataFrame
import scala.collection.concurrent.TrieMap

/** Session-lifetime memo for derived frames shared across `SparkEntry.queries`
  * entries (the kNN pass, the edge graph, accessibility indices). The driver
  * invokes each query independently; without this, every graph-consuming
  * query would rebuild the kNN graph — the reference has the same
  * re-computation blindness (it rebuilds its HNSW index per call,
  * roubust/roubust.py:279 → watermarking.py:287) which we explicitly fix.
  */
object GraftCache {

  /** Once-only holder: `TrieMap.getOrElseUpdate` is not atomic (two racing
    * threads may both evaluate the update expression; the loser's value is
    * discarded), and memo bodies do run on several threads at once:
    * h_impact_compare forks its carrier memos as Futures,
    * `Experiments.forked` materializes a grid's independent builds on pool
    * threads, and callers may run queries concurrently on one session.
    * Shared artifacts are built on demand by their first consumer, on that
    * consumer's thread; a concurrent consumer of the same key blocks on
    * the in-flight build.
    * Creating a holder is side-effect-free, so a lost race discards
    * an UNFORCED holder; the winner's `value` then evaluates the body
    * exactly once JVM-wide (lazy-val synchronization on the holder). This
    * makes double `persist()` marks and double-run side-effecting bodies
    * (stream-sink seq bumps, onClear registrations) impossible by
    * construction rather than by convention.
    */
  private final class Once[T](f: () => T) {
    @volatile private var forced = false
    lazy val value: T = { val v = f(); forced = true; v }
    /** Run `g` only if the body already evaluated — `clear()` must release
      * computed frames without triggering computation of never-used ones.
      */
    def ifForced(g: T => Unit): Unit = if (forced) g(value)
  }

  private val cache    = TrieMap[String, Once[DataFrame]]()
  private val anyCache = TrieMap[String, Once[Any]]()
  private val tracked  = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  def memo(key: String)(f: => DataFrame): DataFrame =
    cache.getOrElseUpdate(key, new Once(() => f.persist())).value

  /** Non-DataFrame artifacts (model centroids, broadcast handles, …). */
  def memoAny[T](key: String)(f: => T): T =
    anyCache.getOrElseUpdate(key, new Once[Any](() => f)).value.asInstanceOf[T]

  /** Persist an intra-operator shared frame (a Dedup shingle/candidate
    * frame) and register it for release: unlike `memo` these aren't keyed
    * reusable artifacts, but they still must not outlive a bench pass —
    * `clear()` is their only release point, so un-routed `.cache()` calls
    * would accumulate executor memory across passes.
    */
  def track(df: DataFrame): DataFrame = {
    tracked.add(df.persist())
    df
  }

  private val retained = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()

  /** Pin an object until `clear()`. Used by the lazily-checkpointed search
    * rounds of GraphAnn's join plan (GraphAnn.stage): a `localCheckpoint(eager = false)` defers
    * materialization to the consuming action, by which time the round's
    * Dataset — the only strong reference to its physical plan and its
    * SQLMetric accumulators — may have been collected; the task-end
    * accumulator updates then log spurious "non-existent accumulator"
    * errors. Retaining the Dataset keeps the (weakly-registered)
    * accumulators resolvable; the queue drains at the same point the
    * tracked persists do.
    */
  def retain[T <: AnyRef](x: T): T = { retained.add(x); x }

  /** Test introspection (StageSpec): size of the retained-pin queue. */
  private[graft] def retainedCount: Int = retained.size()

  private val staged = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Lazy per-round lineage truncation for iterative operators (beam
    * search, connected components, BFS): `localCheckpoint(eager = false)`
    * truncates the logical plan exactly like the eager form — the next
    * round plans against a LogicalRDD — but materialization folds into the
    * round's own probe action (or the final consumer) instead of a
    * dedicated job per round. The pre-checkpoint Dataset is retained until
    * `clear()` so its SQLMetric accumulators outlive the deferred
    * materialization (see `retain`); the checkpointed Dataset is ALSO
    * queued so `clear()` can unpersist its MEMORY_AND_DISK blocks
    * explicitly instead of leaving them to GC + ContextCleaner — library
    * callers that loop stage() without a periodic `clear()` would
    * otherwise accumulate block-manager storage without bound.
    */
  def stage(df: DataFrame): DataFrame = {
    retain(df)
    val ck = df.localCheckpoint(false)
    staged.add(ck)
    ck
  }

  private val cleanups = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Register a side-effect to run at `clear()` — e.g. dropping the memory
    * sink temp views a memoized stream replay registered in the session
    * catalog. Memoized values vanish from `anyCache` at clear; any session
    * state they created must be torn down at the same point or it
    * accumulates across bench passes.
    */
  def onClear(f: () => Unit): Unit = cleanups.add(f)

  def clear(): Unit = {
    cache.values.foreach(_.ifForced(_.unpersist()))
    cache.clear()
    anyCache.clear()
    tracked.forEach(_.unpersist())
    tracked.clear()
    // drop the lazily-checkpointed rounds' cached blocks: each staged
    // Dataset's plan is a LogicalRDD over the persist()-marked RDD that
    // localCheckpoint(eager = false) created — unpersist it here (no-op
    // if the checkpoint was never materialized)
    staged.forEach { ck =>
      ck.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          try l.rdd.unpersist(blocking = false)
          catch { case _: Throwable => () }
        case _ => ()
      }
    }
    staged.clear()
    retained.clear()
    cleanups.forEach { f => try f() catch { case _: Throwable => () } }
    cleanups.clear()
  }
}
