package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The deduplication endgame: near-duplicate PAIRS become CLUSTERS
  * (connected components over the similarity graph), and each cluster
  * elects one representative — the row set a training pipeline actually
  * keeps. Plus deterministic stratified sampling, the other standard
  * corpus-shaping operator.
  *
  * Connected components run as iterative minimum-label propagation over
  * the edge list (each round: every node takes the min label among
  * itself and its neighbors; converges in graph-diameter rounds — near-dup
  * components are shallow in practice). The DuckDB oracle computes the
  * same fixpoint with a recursive CTE, so even the iterative algorithm
  * is value-verified.
  *
  * Scale posture: each round is one shuffle join edge⋈labels + one
  * groupBy min — the standard large-graph CC pattern (no driver-side
  * graph). Convergence is checked with a count of changed labels.
  */
object DedupClusters {

  /** One materialized propagation per (session, dir, corpus vintage):
    * the iterative build caches its label rounds, and re-running it per
    * bench pass would stack abandoned cache entries (the [[graft
    * .warehouse.Warehouse]] materialization pattern, for the same
    * reason). The documents table's file-metadata fingerprint is part of
    * the key (the IndexStore staleness convention), so a corpus
    * rewritten under the same dir propagates again. */
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), DataFrame]

  /** Cluster assignment: every document → the min doc_id reachable
    * through Jaccard >= 0.7 edges (itself if isolated), with cluster
    * size and a keeper flag. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val appId = spark.sparkContext.applicationId
    cache.keys.filter(_._1 != appId).foreach(cache.remove)
    val fp = graft.sim.IndexStore.documentsFingerprint(spark, dir)
    cache.getOrElseUpdate((appId, dir, fp), buildDedupClusters(spark, dir))
  }

  private def buildDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = TextOps.dedupJaccardPairs(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
    connectedComponents(nodes, pairs)
      .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"),
        col("is_keeper"))
  }

  /** Generic minimum-label-propagation connected components over an
    * arbitrary similarity graph: `nodes` one `id` column, `pairs` one
    * undirected edge per (a, b) row. Returns (id, cluster_id,
    * cluster_size, is_keeper) — shared by the text-side Jaccard
    * clusters above and the embedding-side [[graft.sim.Similarity
    * .annDedupReps]]. Each round is one shuffle join edge⋈labels + one
    * groupBy min — the standard large-graph CC pattern, no driver-side
    * graph state; near-dup components are shallow (clone piles are
    * cliques, diameter 1), so convergence is a handful of rounds. */
  private[graft] def connectedComponents(nodes: DataFrame, pairs0: DataFrame,
                                         maxRounds: Int = 20): DataFrame = {
    val pairs = pairs0.toDF("a", "b")
    // undirected edge list in ONE pass over the pair generator: the
    // union-with-flipped form evaluates `pairs` twice while the edge
    // cache materializes — for the embedding reps that is the banded
    // LSH join run twice (~8s of the 41s build at the 100x rung);
    // exploding both directions per input row reads it once
    val edges = pairs
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .cache()

    var labels = nodes.select(col("id"), col("id").as("label")).cache()

    // Convergence check without a per-round compare join: every node's
    // label is monotonically non-increasing (least of itself and its
    // neighbors' minimum), so the label total strictly decreases until
    // the fixpoint — equal totals ⟺ no label changed. DECIMAL(38,0)
    // keeps the total exact however many nodes (a LONG sum of 64-bit
    // ids can overflow at corpus scale).
    def labelTotal(df: DataFrame): java.math.BigDecimal = {
      // sum over zero rows is NULL — an empty corpus must converge
      // immediately, not NPE in compareTo
      val d = df.agg(sum(col("label").cast(DecimalType(38, 0)))).head().getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }

    var changed = true
    var prevTotal = labelTotal(labels)
    var rounds = 0
    while (changed && rounds < maxRounds) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "b")
          .withColumnRenamed("label", "nlabel"), "b")
        .groupBy(col("a").as("id"))
        .agg(min("nlabel").as("minNeighbor"))
      val next = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("minNeighbor"), col("label"))).as("label"))
        .cache()
      val total = labelTotal(next) // also materializes next's cache
      changed = total.compareTo(prevTotal) != 0
      prevTotal = total
      labels.unpersist()
      labels = next
      rounds += 1
    }
    // Silent early exit would yield wrong clusters for graphs deeper
    // than maxRounds hops — fail loudly instead of diverging from the
    // oracle's recursive-CTE fixpoint.
    if (changed)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds (labels still " +
          "changing); the similarity graph has components deeper than expected — " +
          "raise maxRounds")

    // the final labels (cached, already materialized by labelTotal) are
    // all the result plan needs — release the edge cache
    edges.unpersist()

    val sizes = labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("id"), col("label").as("cluster_id"))
      .join(sizes, "cluster_id")
      .select(col("id"), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).as("is_keeper"))
  }

  /** Recursive-CTE block computing the same fixpoint — `rch` (node →
    * min reachable label) and `sizes` — shared by the cluster oracle
    * below and the [[dedupKeepBest]] oracle. Shingle CTEs (including
    * the hot-shingle df cap) are shared with the dedup_jaccard_pairs
    * oracle. */
  private[text] val dedupClustersCtes: String = s"""
WITH RECURSIVE ${TextOps.shingleCtes},${TextOps.cellPairCtes("s")},
prs AS (SELECT doc_a AS a, doc_b AS b
        FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
        WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= 0.7),
edges AS (SELECT a, b FROM prs UNION ALL SELECT b, a FROM prs),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON r.node = e.b),
rch AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
sizes AS (SELECT label AS cluster_id, COUNT(*) AS cluster_size FROM rch GROUP BY label)"""

  /** Recursive-CTE twin: reach(node,label) closure over the same edges,
    * min label per node. */
  val dedupClustersSql: String = dedupClustersCtes + """
SELECT r.node AS doc_id, r.label AS cluster_id, s.cluster_size,
       r.node = r.label AS is_keeper
FROM rch r JOIN sizes s ON r.label = s.cluster_id"""

  /** Cluster representatives elected by QUALITY instead of min-id: each
    * near-dup cluster keeps its highest-[[TextOps.withTextStats
    * quality_score]] member (exact score ties — same stats — break on
    * the smaller doc_id). Min-id keepers ([[dedupClusters]]'
    * `is_keeper`) are the cheap default; a curation pass that is about
    * to TRAIN on the keeper wants the best-written member of each pile,
    * not the lowest-numbered one. One join (labels ⋈ stats) plus a
    * per-cluster window — hash-partitioned by cluster_id, ≤
    * cluster_size rows per key, no global sort; quality_score is
    * computed identically in both engines (its own oracle row is
    * hash-green), so the argmax is value-exact. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val quality = TextOps
      .withTextStats(Tables.documents(spark, dir).select("doc_id", "text"))
      .select("doc_id", "quality_score")
    dedupClusters(spark, dir)
      .join(quality, "doc_id")
      .withColumn("rk",
        row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
            .orderBy(col("quality_score").desc, col("doc_id").asc)))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_doc_id"),
        col("cluster_size"), col("quality_score").as("rep_quality"))
      .orderBy("cluster_id")
  }

  /** Oracle: the cluster fixpoint CTEs + the (green) stats SQL, argmax
    * via the same windowed rank. */
  lazy val dedupKeepBestSql: String = dedupClustersCtes + s""",
stats AS (${TextOps.textStatsSql}),
lbl AS (SELECT r.node AS doc_id, r.label AS cluster_id, s.cluster_size
        FROM rch r JOIN sizes s ON r.label = s.cluster_id),
rk AS (SELECT l.cluster_id, l.doc_id, l.cluster_size, st.quality_score,
              ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                 ORDER BY st.quality_score DESC, l.doc_id ASC) AS rk
       FROM lbl l JOIN stats st USING (doc_id))
SELECT cluster_id, doc_id AS rep_doc_id, cluster_size, quality_score AS rep_quality
FROM rk WHERE rk = 1
ORDER BY cluster_id"""

  /** Deterministic stratified sampling: per-language rates via an
    * md5-derived uniform per doc — reproducible on any cluster layout
    * (Spark's sampleBy is seed-dependent on partitioning; hashing the
    * row identity is not). en kept at 20%, others at 60%. */
  /** The sampler's uniform bucket — a pure function of doc_id. */
  val sampleBucket: org.apache.spark.sql.Column =
    expr("cast(conv(substr(md5(concat('sample:', cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 100")

  /** The sampler's keep-predicate over (doc_id, lang) — exposed so a
    * composition ([[Curation.curatedDocs]]) can apply it as a NARROW
    * filter on its own scan instead of shuffle-joining this operator's
    * output: being a pure function of row identity, filter and
    * join-on-output select exactly the same rows. */
  def sampleKeep: org.apache.spark.sql.Column =
    (col("lang") === "en" && sampleBucket < 20) ||
      (col("lang") =!= "en" && sampleBucket < 60)

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("u", sampleBucket)
      .filter((col("lang") === "en" && col("u") < 20) ||
        (col("lang") =!= "en" && col("u") < 60))
      .select(col("doc_id"), col("lang"), col("u").as("bucket"))

  val stratifiedSampleSql: String = """
SELECT doc_id, lang,
       CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT) % 100 AS bucket
FROM documents
WHERE (lang = 'en' AND CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT) % 100 < 20)
   OR (lang <> 'en' AND CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT) % 100 < 60)"""

  /** The dedup FUNNEL in one frame — the executive rollup every corpus
    * report opens with: total documents, surviving group counts per
    * exactness rung (byte-exact, canonicalized), candidate-pair volumes
    * per sketch family (Jaccard, MinHash-LSH, SimHash), connected
    * components, and elected keepers. Composes the verified operators
    * directly (each stage IS the registered op, re-aggregated to one
    * count), so the funnel can never drift from the queries it
    * summarizes; the oracle nests the same per-stage SQL. Stage keys
    * carry an ordering prefix so the frame reads top-to-bottom as the
    * funnel. */
  def dedupFunnel(spark: SparkSession, dir: String): DataFrame = {
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("stage"), col("n"))
    stage("a_documents", Tables.documents(spark, dir))
      .unionByName(stage("b_exact_groups", TextOps.dedupExact(spark, dir)))
      .unionByName(stage("c_canonical_groups", TextOps.dedupCanonical(spark, dir)))
      .unionByName(stage("d_jaccard_pairs", TextOps.dedupJaccardPairs(spark, dir)))
      .unionByName(stage("e_minhash_pairs", TextOps.dedupMinhashLsh(spark, dir)))
      .unionByName(stage("f_simhash_pairs", TextOps.dedupSimhashPairs(spark, dir)))
      .unionByName(stage("g_clusters",
        dedupClusters(spark, dir).select("cluster_id").distinct()))
      .unionByName(stage("h_keepers", dedupKeepBest(spark, dir)))
      .orderBy("stage")
  }

  lazy val dedupFunnelSql: String = {
    def sub(name: String, sql: String): String =
      s"SELECT '$name' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM ($sql)"
    Seq(
      "SELECT 'a_documents' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM documents",
      sub("b_exact_groups", TextOps.dedupExactSql),
      sub("c_canonical_groups", TextOps.dedupCanonicalSql),
      sub("d_jaccard_pairs", TextOps.dedupJaccardPairsSql),
      sub("e_minhash_pairs", TextOps.dedupMinhashLshSql),
      sub("f_simhash_pairs", TextOps.dedupSimhashPairsSql),
      s"SELECT 'g_clusters' AS stage, CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n FROM ($dedupClustersSql)",
      sub("h_keepers", dedupKeepBestSql)
    ).mkString("", "\nUNION ALL\n", "\nORDER BY stage")
  }

  val inventory: Map[String, TextOps.Q] = Map(
    "dedup_clusters"    -> (dedupClusters _),
    "dedup_keep_best"   -> (dedupKeepBest _),
    "dedup_funnel"      -> (dedupFunnel _),
    "stratified_sample" -> (stratifiedSample _))

  val oracle: Map[String, String] = Map(
    "dedup_clusters"    -> dedupClustersSql,
    "dedup_keep_best"   -> dedupKeepBestSql,
    "dedup_funnel"      -> dedupFunnelSql,
    "stratified_sample" -> stratifiedSampleSql)
}
