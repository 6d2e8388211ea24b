package graft.operators

import org.apache.spark.sql.DataFrame

/** Releasable mid-plan materialization — `localCheckpoint(eager = true)`
  * behind one documented door.
  *
  * Why not `cache()`: a cache() entry pins partitions in the session's
  * shared CacheManager until an explicit unpersist; operators that
  * materialize internally would leak pins on every call (the r8/r9
  * ADVICE class, now structurally rejected by QuerySweepSpec's
  * CacheManager-empty sweep). localCheckpoint blocks release via the
  * ContextCleaner as soon as the frame is unreachable.
  *
  * The trade (r10 ADVICE, documented here once for every call site):
  * localCheckpoint TRUNCATES LINEAGE and stores unreplicated blocks, so
  * on a multi-node cluster losing an executor makes the downstream query
  * FAIL (rerun it) instead of recomputing the lost partitions; and
  * `eager = true` runs the materializing job at DataFrame-CONSTRUCTION
  * time, shifting that work ahead of the action that consumes it. Both
  * are the right trade for these operators' internal, short-lived
  * materializations (the frames feed 2–3 joins inside one logical
  * query, and a driver-gate/bench run IS a single attempt); a pipeline
  * that needs cross-job durability or executor-loss recovery should
  * `checkpoint()` to reliable storage at its own boundary instead.
  */
private[graft] object Materialize {
  def apply(df: DataFrame): DataFrame = {
    // Plan observability for the optimization loop: the per-pass jobs
    // these checkpoints run never appear in the FINAL query's explain()
    // (lineage is truncated), so claims about their join strategies and
    // exchange counts would otherwise be unverifiable. With
    // GRAFT_EXPLAIN_MATERIALIZE set, every materialized frame's formatted
    // physical plan prints before the checkpoint job runs. Off (the
    // default) this is one env lookup.
    if (sys.env.contains("GRAFT_EXPLAIN_MATERIALIZE")) {
      println(s"---------- materialize #${counter.incrementAndGet()} ----------")
      df.explain("formatted")
    }
    df.localCheckpoint(true)
  }
  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)
}
