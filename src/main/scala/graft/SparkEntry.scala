package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (one entry per SURVEY §2
  * operator family), `oracleSql` the DuckDB-equivalent SQL per entry over
  * the same parquet tables. Column names and values match exactly — see
  * [[Det]] for the determinism conventions that make double-valued
  * measures hash-identical between Spark and DuckDB.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    analytics.Analytics.q01(spark, "/root/testdata/sf0.001")

  /** Each module's (inventory, oracle SQL) pair, merged left to right
    * into [[queries]] and [[oracleSql]]. Kept as a Seq so the registry
    * spec can prove no key is shadowed by a later module
    * (`inventorySizes.sum == queries.size`). */
  private def modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    analytics.Analytics.inventory -> analytics.Analytics.oracle,
    etl.Cleanse.inventory -> etl.Cleanse.oracle,
    etl.Load.inventory -> etl.Load.oracle,
    quality.Quality.inventory -> quality.Quality.oracle,
    quality.Pii.inventory -> quality.Pii.oracle,
    monitor.Monitor.inventory -> monitor.Monitor.oracle,
    warehouse.WarehouseQueries.inventory -> warehouse.WarehouseQueries.oracle,
    text.TextOps.inventory -> text.TextOps.oracle,
    sim.Similarity.inventory -> sim.Similarity.oracle,
    sim.Ivf.inventory -> sim.Ivf.oracle,
    sim.Pq.inventory -> sim.Pq.oracle,
    sim.Ivfpq.inventory -> sim.Ivfpq.oracle,
    streaming.Streams.inventory -> streaming.Streams.oracle,
    multimodal.Multimodal.inventory -> multimodal.Multimodal.oracle,
    ext.Extensions.inventory -> ext.Extensions.oracle,
    text.DedupClusters.inventory -> text.DedupClusters.oracle,
    analytics.WindowOps.inventory -> analytics.WindowOps.oracle,
    etl.Skew.inventory -> etl.Skew.oracle,
    ext.TemporalJoins.inventory -> ext.TemporalJoins.oracle,
    ext.Reshape.inventory -> ext.Reshape.oracle,
    analytics.Quantiles.inventory -> analytics.Quantiles.oracle,
    ext.SetOps.inventory -> ext.SetOps.oracle,
    text.Curation.inventory -> text.Curation.oracle,
    text.Packing.inventory -> text.Packing.oracle,
    text.Incremental.inventory -> text.Incremental.oracle,
    text.Relevance.inventory -> text.Relevance.oracle,
    analytics.Funnels.inventory -> analytics.Funnels.oracle,
    quality.Profile.inventory -> quality.Profile.oracle,
    monitor.Drift.inventory -> monitor.Drift.oracle,
    etl.Cdc.inventory -> etl.Cdc.oracle,
    sim.EmbeddingDrift.inventory -> sim.EmbeddingDrift.oracle,
    sim.Contrastive.inventory -> sim.Contrastive.oracle,
    analytics.Stats.inventory -> analytics.Stats.oracle,
    analytics.Basket.inventory -> analytics.Basket.oracle,
    analytics.Rfm.inventory -> analytics.Rfm.oracle,
    analytics.Graph.inventory -> analytics.Graph.oracle)

  private[graft] def inventorySizes: Seq[Int] = modules.map(_._1.size)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** Eval/recall/baseline-contract rows: driver-SF-only verification
    * surfaces whose COST is deliberately not a scale statement — recall
    * rows re-run the brute-force exact baseline, the capture row is a
    * Θ(n²) all-pairs eval, the doulion check runs BOTH censuses, and
    * the exact triangle census's ladder representative is its sampled
    * twin (`triangle_doulion_copurchase`). They keep their oracle seats
    * (Verify runs every registered query) but must NEVER ride a bench
    * rung: round 12's 300× rung overran its round boundary by hours
    * because the capture row sat on the roster — RosterSpec now turns
    * red if any of these reappears in [[Bench.extOps]]. */
  private[graft] val evalOnly: Set[String] = Set(
    "ivf_recall", "pq_recall", "pq_rerank_recall", "ivfpq_recall",
    "semantic_dedup_capture_t45", "ann_lsh_dedup_pairs_t45",
    "triangle_doulion_check", "triangle_count_copurchase")

  /** The intrinsically output-quadratic pair-LISTING contract ops: the
    * OUTPUT itself is ~quadratic in clone multiplicity (~10–30 M rows ×
    * 7 bench passes at 300×), so they bench at small rungs and are
    * class-skipped at the 300× rung (`SPARK_GRAFT_BENCH_SKIP_CLASS=
    * listing`) while their three output-bounded twins (`ann_dedup_reps`
    * / `_pair_stats` / `_cluster_hist`) run unskipped everywhere. */
  private[graft] val listingOps: Set[String] = Set("ann_lsh_dedup_pairs")

  /** Roster class per registered query — the scale-ladder placement
    * policy, mechanized (it lived in prose through round 12 and was
    * violated once at a five-hour cost):
    *   - `headline`: the 10 BASELINE.md-comparable analytics queries.
    *   - `ext`: the extension-operator bench roster ([[Bench.extOps]]),
    *     run at every ladder rung.
    *   - `listing`: on the roster, class-skipped at the 300× rung
    *     ([[listingOps]]).
    *   - `eval`: driver-SF-only ([[evalOnly]] plus every row that is a
    *     correctness surface rather than a perf statement) — never on
    *     a bench rung; the ladder script derives its skip behavior
    *     from these tags via SPARK_GRAFT_BENCH_SKIP_CLASS, and
    *     RosterSpec asserts the partition is total and honest. */
  def rosterClass: Map[String, String] =
    queries.keysIterator.map { k =>
      k -> (if (Bench.headline.contains(k)) "headline"
            else if (listingOps.contains(k)) "listing"
            else if (evalOnly.contains(k)) "eval"
            else if (Bench.extOps.contains(k)) "ext"
            else "eval")
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.map(_._2).reduce(_ ++ _)
}
