package graft

import org.apache.spark.sql.DataFrame

/** Registry for the library's long-lived persisted frames (the shared
  * corpus inputs of [[graft.queries.Fixtures]] and the intra-operator
  * persists that outlive their operator call, e.g.
  * [[graft.ext.Sketch.cmsHeavyHitters]]'s counts). Harmless in the bench
  * harness — the JVM exits — but a long-lived server process accumulates
  * cached blocks across sessions/scale factors; `CachedFrames.clear()` is
  * the teardown hook that unpersists everything and drops the fixture
  * memo entries. */
object CachedFrames {

  private val cleanups =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]

  /** Register a cleanup thunk to run on [[clear]] (the fixture registry's
    * memo reset; [[track]] for frames). */
  private[graft] def onClear(f: () => Unit): Unit = { cleanups.add(f); () }

  /** Track one persisted frame: it is unpersisted at the next [[clear]].
    * Returns the frame for inline use. */
  def track(df: DataFrame): DataFrame = {
    onClear(() => { df.unpersist(); () })
    df
  }

  /** Unpersist every tracked frame and run every registered cleanup.
    * Safe to call repeatedly; cleanup errors (e.g. a stopped session)
    * are swallowed so teardown always completes. */
  def clear(): Unit = {
    dropScratch()
    var f = cleanups.poll()
    while (f != null) {
      try f()
      catch { case scala.util.control.NonFatal(_) => }
      f = cleanups.poll()
    }
  }

  // ---- per-operator scratch persists --------------------------------
  // Operators persist intermediates that several branches of ONE query
  // plan share (persistOnce). Those frames outlive the operator call —
  // the returned plan references them — but not the QUERY: once the
  // caller has materialized its result they are dead weight, and a
  // process that runs many queries in one session (Bench, Verify, a
  // serving driver) accumulates hundreds of cached frames whose eviction
  // churn and GC pressure tax every later query. Harness drop point:
  // after each query's action, dropScratch() releases them while the
  // cross-query fixtures (graft.queries.Fixtures, released by clear())
  // stay cached.

  private val scratchFrames =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** Register a per-query scratch persist, released at the caller's next
    * [[dropScratch]]. Returns the frame for inline use. */
  def scratch(df: DataFrame): DataFrame = { scratchFrames.add(df); df }

  /** Unpersist every scratch frame registered since the last drop. */
  def dropScratch(): Unit = {
    var df = scratchFrames.poll()
    while (df != null) {
      try df.unpersist(false)
      catch { case scala.util.control.NonFatal(_) => }
      df = scratchFrames.poll()
    }
  }
}
