package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Join-side sizing for SCALING dimensions (customer/part/supplier —
  * tables that grow with SF in TPC-H-shaped data, unlike nation/region/
  * payment whose cardinality is bounded by construction).
  *
  * A hard `broadcast()` hint on a scaling dim is the classic 100 TB
  * failure: it overrides the planner unconditionally, and the build
  * side that was 20k rows at sf0.1 is 200M rows at sf1000 — a driver
  * OOM the small-SF tests can never see. But simply DELETING the hint
  * does not hand the choice to the planner here, because the dims are
  * Dist-ranked frames (RDD-backed lineage after the partition-offset
  * numbering) whose logical stats are the worst-case default — the
  * static planner reads "huge" and sort-merges a 1500-row dimension
  * at every scale (measured: 3 PlanSpec broadcast assertions went SMJ
  * the moment the hints came off).
  *
  * So the gate is a measured row count, not an estimate: broadcast iff
  * the frame is at or under [[MaxBroadcastRows]]. The count is cheap
  * where it matters — parquet scans answer from footer metadata, the
  * persisted warehouse dims answer from the cache they materialize
  * anyway — and the decision tracks the DATA, so the same code
  * broadcasts at driver SFs and degrades to a shuffle join on the
  * dim-scaled ladder rungs (and on AQE profiles the runtime stats can
  * still upgrade the shuffle back to broadcast when actual sizes
  * allow).
  */
object Joins {

  /** Broadcast budget for a scaling dimension, in rows: the dims this
    * gates are narrow (≤ a dozen scalar columns), so 1M rows is a
    * ~30-80 MB broadcast — the conventional upper band. Past it the
    * shuffle join is the right plan anyway. */
  val MaxBroadcastRows = 1000000L

  /** The measured-size broadcast gate (see object scaladoc). The
    * measuring `count()` is an eager Spark job; before memoization it
    * ran inside every gated query invocation, i.e. in the TIMED serve
    * path (measured: q06 0.26→0.41 s, q07 0.31→0.49 s, +56% each, once
    * the stored-dim serve made the query cheaper than its gate). The
    * decision is a pure function of the dim's data, and within one
    * application the dims it gates are immutable vintages (stored
    * parquet assets, or deterministic builds of read-only source
    * tables), so it is memoized once per application in the [[Memo]]
    * slot (canonicalized analyzed-plan hash, budget): any structurally
    * identical `dim.select(...)` re-derivation hits, and concurrent
    * first callers (the analytics fan-out gates one projection from
    * several queries at once) wait for one count, while a different
    * data directory or projection misses and measures fresh. */
  def broadcastIfSmall(df: DataFrame, maxRows: Long = MaxBroadcastRows): DataFrame = {
    val slot = ("broadcast_gate", df.queryExecution.analyzed.semanticHash(), maxRows)
    if (Memo(df.sparkSession, slot, "")(df.count() <= maxRows)) broadcast(df) else df
  }
}
