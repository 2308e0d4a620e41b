package graft.sim

import graft.{Op, Tables}
import graft.Op.{Eval, Ext, Listing}
import graft.functions.QDot
import Grid.{duckQz, qz}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, Array[Float]
  * embedding, label) — the ANN surface of a training-data pipeline
  * (BASELINE.json north star).
  *
  * Determinism across engines: float components are quantized to a 1e-7
  * integer grid (floor(x * 1e7) — floor of an identical double is
  * identical everywhere, unlike double→decimal casts, where Spark
  * quantizes the shortest decimal representation while DuckDB quantizes
  * the exact binary expansion, which differ at the last digit). Dot
  * products and norms are then exact BIGINT sums — associative, so
  * partition order can't perturb them — and the final cosine is a fixed
  * double expression tree over those integers. The 1e-7 quantization
  * error (~1e-6 relative on these vectors) is far below any ranking
  * granularity ANN cares about.
  *
  * Scale posture: brute-force cosine is the correctness baseline
  * (embarrassingly parallel, one broadcast of the query set, no shuffle).
  * The LSH-bucketed variant is the 100 TB path: sign-random-projection
  * signatures put each vector in a bucket; candidate generation becomes
  * an equality join on (bucket), turning O(N·Q) into O(N + collisions).
  */
object Similarity {
  /** Exact integer dot product of two float arrays (in-row fold — no
    * shuffle, no explode). Magnitudes: |x|<1 → |q|<1e7, 64 products of
    * |q a·q b|<1e14 sum to <1e16 — no 64-bit overflow.
    * HOF reference form — [[graft.functions.QDot]] is the compiled twin
    * used on the hot paths below; QDotSpec asserts they are bit-equal. */
  private[graft] def dotE(a: String, b: String): String =
    s"""cast(aggregate(zip_with($a, $b,
          (x, y) -> ${qz("x")} * ${qz("y")}),
          cast(0 as bigint), (acc, v) -> acc + v) as double)"""

  private[graft] def normE(a: String): String =
    s"""sqrt(cast(aggregate(transform($a, x -> ${qz("x")} * ${qz("x")}),
          cast(0 as bigint), (acc, v) -> acc + v) as double))"""

  /** Brute-force cosine top-10 for the first five vectors as queries
    * (self excluded): broadcast the query set, score every vector,
    * then grouped top-k via the bounded-heap aggregate
    * ([[graft.functions.TopKBy]]) — a partial+final hash aggregation
    * (no per-partition sort, unlike the window form's WindowGroupLimit
    * plan). Same result as the `row_number` window form (TopKBySpec
    * asserts it; the DuckDB oracle keeps verifying the window
    * semantics). */
  def annCosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val scored = e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        QDot.cosine("q", "embedding").as("cosine"))
    scored.groupBy("query_id")
      .agg(graft.functions.TopKBy.of(col("cosine"), col("vec_id"), 10).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.tag").as("vec_id"), col("p.v").as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** DuckDB cosine of aliases `a` and `b` over their raw `embedding`
    * and precomputed `nrm` columns. */
  private def duckCos(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, len($a.embedding)),
              i -> ${duckQz(s"$a.embedding[i]")} * ${duckQz(s"$b.embedding[i]")})) AS DOUBLE)
         / ($a.nrm * $b.nrm)"""
  private val duckDot =
    s"""list_sum(list_transform(generate_series(1, len(q)),
         i -> ${duckQz("q[i]")} * ${duckQz("e[i]")}))"""
  private val duckNorm = (a: String) =>
    s"""sqrt(CAST(list_sum(list_transform($a,
          x -> ${duckQz("x")} * ${duckQz("x")})) AS DOUBLE))"""

  val annCosineTopKSql: String = s"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, v.vec_id,
         CAST($duckDot AS DOUBLE)
           / (${duckNorm("q")} * ${duckNorm("e")}) AS cosine
  FROM q CROSS JOIN (SELECT vec_id, embedding AS e FROM embeddings) v
  WHERE v.vec_id <> q.query_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10"""

  /** All-pairs cosine >= 0.4 ("near-duplicate" embeddings at this
    * synthetic data's similarity ceiling of ~0.51). Exact; the LSH
    * variant below is the scale path. */
  def embeddingNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        QDot.norm("embedding").as("nrm"))
    // single-file input = one partition; spread the streamed side so the
    // O(N^2) dot products parallelize
    e.repartition(spark.sparkContext.defaultParallelism).as("a")
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        QDot.cosine("a.embedding", "b.embedding", col("a.nrm"), col("b.nrm"))
          .as("cosine"))
      .filter(col("cosine") >= 0.4)
  }

  val embeddingNearDupPairsSql: String = s"""
WITH n AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS nrm FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${duckCos("a", "b")} AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE ${duckCos("a", "b")} >= 0.4"""

  /** Sign-random-projection LSH bucketing: 8 md5-derived ±1 hyperplanes →
    * an 8-bit bucket per vector; candidates are same-bucket pairs, scored
    * exactly within the bucket. Registered with an oracle (the
    * hyperplanes are md5-derived, so DuckDB reproduces the buckets). */
  /** HOF reference form of the SRP bucket (what the oracle mirrors):
    * plane p (0..7), dim i (1..64), sign from one md5-derived bit.
    * [[graft.functions.SrpSig]] is the compiled twin used below — the
    * HOF tree recomputes the constant md5 sign per (row, plane, dim);
    * SrpSigSpec asserts bit-equality. */
  private[graft] val srpHofE: String =
    s"""aggregate(sequence(0, 7), 0, (acc, p) ->
         acc + if(aggregate(sequence(1, size(embedding)), cast(0 as bigint), (a, i) ->
                    a + ${qz("element_at(embedding, i)")}
                        * if((cast(conv(substr(md5(concat(cast(p as string), '_', cast(i as string))), 1, 8), 16, 10) as bigint) & 1) = 1,
                             cast(1 as bigint), cast(-1 as bigint))) > cast(0 as bigint),
                  shiftleft(1, p), 0))"""

  def annLshBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), graft.functions.SrpSig.of(col("embedding")).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("bucket_size"), min("vec_id").as("min_vec_id"))

  val annLshBucketsSql: String = """
WITH s AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(generate_series(0, 7), p ->
           CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), i ->
                       CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT)
                       * CASE WHEN (CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT) & 1) = 1
                              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)) > 0
                THEN (1 << p) ELSE 0 END)) AS INT) AS bucket
  FROM embeddings)
SELECT bucket, COUNT(*) AS bucket_size, MIN(vec_id) AS min_vec_id
FROM s GROUP BY bucket"""

  /** LSH bands for [[annLshNearDupPairs]]: 16 bands x 4 planes from one
    * 64-plane [[graft.functions.SrpSig64]] signature. At the 0.4 cosine
    * threshold a plane agrees w.p. 1-θ/π ≈ 0.63, so a pair collides in
    * ≥1 band w.p. 1-(1-0.63⁴)^16 ≈ 0.94 — and higher for closer pairs.
    *
    * Candidate-pruning honesty: this corpus's qualifying pairs all sit
    * at cosine 0.40-0.47, barely above the random-pair band (where a
    * plane agrees w.p. 0.5), so ANY banding that keeps recall high here
    * must also pass a large share of random pairs (~64% with these
    * parameters) — at a threshold this marginal, LSH discrimination is
    * information-theoretically thin. At dedup-realistic thresholds
    * (cosine ≥ 0.8, plane agreement ≥ 0.79) the same 16×4 banding keeps
    * recall ≥ 0.99 while passing under 7% of random pairs, and deeper
    * rows (8×8 from the same 64 planes) push that below 0.3%. The
    * banding is therefore parameterized where the threshold is. */
  val LshBands = 16
  val LshRows = 4

  /** Size cap for an SRP-LSH (band, bucket) cell — the guardrail that
    * converts a degenerate corpus's unbounded quadratic join into
    * bounded work plus documented recall loss. Unlike the shingle/
    * fingerprint df-caps, the bucket key space here is FIXED (2^rows
    * cells per band), so the cap is NOT a skew detector at healthy
    * occupancy — it exists for the near-constant-embedding pile: AQE
    * skew-join can rebalance the compute of a hot cell across tasks but
    * cannot shrink its O(hot²) candidate OUTPUT, which is what actually
    * melts down. With the cap, the worst cell costs cap² comparisons,
    * full stop. Sizing: measured occupancy on the test corpus is
    * max 208 / avg 125 per cell at sf0.1 (all 256 cells of the 16×4
    * config live), so 2000 never fires on healthy data; a cell beyond
    * it holds >10× the hot-bucket ceiling of a direction-diverse corpus
    * and is a clone pile — [[graft.text.TextOps.dedupExact]]/cluster
    * territory. At real scale the operating point raises `rows` (deeper
    * buckets from the same 64-plane signature) so expected occupancy
    * N/2^rows stays under the cap — see [[annLshDedupPairs]] for that
    * configuration. Mirrored in the DuckDB oracle via the SQL builder.
    *
    * Measured truncation behavior at FIXED depth (jittered-replica
    * ScaleGen rungs, 2k direction corpus): at 20k vectors the 16×4
    * config's cells hold ~1250 avg / ~2080 max, under the cap, and the
    * op does its full Θ(n²/2^rows) work (11.7s median, 176k pairs out);
    * at 60k vectors EVERY cell exceeds the cap and the result is EMPTY
    * — fast (0.8s) but zero rows. That is the cap contract operating as
    * designed (bounded work + documented recall loss, never a melted
    * join), and the committed bench artifact carries `ext_rows` so the
    * truncation is visible, not a fake speed-up. The production answer
    * to a growing corpus is depth, not caps: [[annLshDedupPairs]]. */
  val LshBucketCap = 2000

  /** Banded SRP-LSH candidate generation → exact rescore at the
    * marginal 0.4 threshold. [[embeddingNearDupPairs]] above is the
    * O(N²) exact BASELINE kept for recall measurement (SimTextSpec);
    * every emitted pair here is exactly rescored with the
    * integer-quantized dot, so precision is 1 and only recall is
    * probabilistic (≈0.94 at the threshold, see [[LshBands]]).
    *
    * Scale honesty: AT THIS THRESHOLD the banding cannot prune —
    * recall-preserving bands pass ~64% of random pairs ([[LshBands]]),
    * so candidate mass is Θ(n²) within a constant of brute force, and
    * the ScaleGen rungs measure exactly that (0.60s at 2k vectors →
    * 11.7s at 20k, then cap truncation at 60k — see [[LshBucketCap]]).
    * This is the information-theoretic wall of the problem statement
    * ("all pairs barely above random"), not an implementation defect;
    * the configuration a 100 TB corpus actually runs is the
    * occupancy-adaptive dedup-grade [[annLshDedupPairs]], whose rungs
    * scale with their own OUTPUT (0.47s → 1.01s → 2.89s at 2k/20k/60k
    * vectors; 9.9M clone pairs found at 200k — recall 1.0, output
    * quadratic in clone multiplicity, which is what [[annDedupReps]]
    * bounds to one row per vector).
    *
    * Registered as `ann_lsh_near_dup_pairs_demo`: the `_demo` suffix
    * marks this fixed-depth operating point as a demonstration /
    * recall-measurement surface that empty-truncates above ~60k vectors
    * by design — nobody should ship it at scale; the production route
    * is [[annLshDedupPairs]].
    */
  def annLshNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    annLshNearDupPairsWith(spark, dir, LshBands, LshRows, 0.4)

  /** Bucket-depth occupancy target for the adaptive dedup operating
    * point: rows r is the smallest value ≥ 8 with n ≤ target·2^r, so
    * expected cell occupancy n/2^r stays ≤ target however large the
    * corpus — WITHOUT this, any fixed depth has Θ(n²/2^r) candidate
    * mass and the op goes quadratic (measured: 1.6s at 50k vectors →
    * 86s at 150k with fixed 8×8, with the bucket cap silently costing
    * 60% clone recall as cells crossed it; adaptive depth restores both
    * linearity and recall). Integer-exact on both engines: the oracle
    * mirrors the same thresholds as a CASE ladder — no float log2 at a
    * ceil boundary to disagree about. */
  val LshAdaptiveTargetOccupancy = 50L

  /** Smallest r in [8, 32] with n ≤ [[LshAdaptiveTargetOccupancy]]·2^r. */
  def adaptiveLshRows(n: Long): Int = {
    var r = 8
    while (r < 32 && n > LshAdaptiveTargetOccupancy * (1L << r)) r += 1
    r
  }

  /** Candidate-mass budget per vector for the dedup operating point,
    * and the depth ceiling of the mass refinement below. The occupancy
    * rule above is a PROXY: it assumes cells fill ~uniformly (n/2^r),
    * which holds for direction-diverse corpora but undershoots badly
    * when the corpus is directionally CONCENTRATED — mean occupancy can
    * look healthy while a few directions hold most vectors and the
    * banded self-join's real cost, Σ_cells C(occ,2), stays ~quadratic.
    * Measured on the 10× jittered-replica rung (20k vectors): the
    * occupancy rule picks r=9 with a healthy-looking 41 avg occupancy —
    * and 3.98M candidate pairs; r=13 yields 495k, of which ~360k are
    * the genuine clone pairs (the true output floor). Mass is what
    * costs; mass is what the rule must bound.
    *
    * [[LshMassMaxRows]] = 16 keeps ≥ 4 bands from the 64-plane
    * signature (clone recall at cosine 0.999 is still ≥ 0.998 at 16×4;
    * deeper rows would start trading band redundancy for nothing the
    * cap doesn't already bound). Beyond n = 50·2^16 ≈ 3.3M vectors the
    * occupancy base itself exceeds 16 and governs alone. */
  val LshMassTargetPerVec = 32L
  val LshMassMaxRows = 16

  /** The dedup operating point's depth: start from the occupancy base
    * [[adaptiveLshRows]], then deepen while the MEASURED capped
    * candidate mass Σ_cells C(occ,2) exceeds [[LshMassTargetPerVec]]·n,
    * stopping at [[LshMassMaxRows]] (a cell beyond [[LshBucketCap]]
    * counts 0 — exactly what the hot-cell anti-join drops). The first
    * depth meeting the budget is the smallest one, so all candidate
    * depths are probed in ONE aggregation job — one explode over the
    * ~40 (depth, band) combinations, one (r, band, bucket) count, one
    * per-depth mass rollup, a ≤9-row collect — rather than a
    * job-per-depth loop (measured: the loop's per-job overhead at the
    * 10× rung cost more than the join it was sizing).
    * On a clone-heavy corpus the floor of the mass is the genuine
    * near-dup output itself, which no depth can (or should) shrink —
    * the refinement then correctly runs to the ceiling and stops.
    * Deterministic: same corpus → same masses → same depth; driver
    * state is one (r, mass) row per candidate depth. Mirrored exactly
    * in the DuckDB oracle ([[annLshDedupPairsSql]]). */
  private[graft] def adaptiveLshRowsByMass(e: DataFrame, n: Long): Int = {
    val base = adaptiveLshRows(n)
    if (base >= LshMassMaxRows) base
    else {
      val rb = (base to LshMassMaxRows)
        .flatMap(r => (0 until 64 / r).map(b => (r, b)))
      // sig below the exchange: the probe shuffles 8-byte signatures,
      // not embedding arrays (same discipline as annLshNearDupPairsOver)
      val masses = e
        .select(graft.functions.SrpSig64.of(col("embedding")).as("sig"))
        .repartition(e.sparkSession.sparkContext.defaultParallelism)
        .select(col("sig"), explode(array(rb.map { case (r, b) =>
          struct(lit(r).as("r"), lit(b).as("band")) }: _*)).as("rb"))
        .selectExpr("rb.r as r", "rb.band as band",
          "cast(shiftright(sig, rb.band * rb.r) & (shiftleft(cast(1 as bigint), rb.r) - 1) as bigint) as bucket")
        .groupBy("r", "band", "bucket").agg(count(lit(1)).as("c"))
        .groupBy("r").agg(sum(expr(
          s"if(c > $LshBucketCap, cast(0 as bigint), c * (c - 1) div 2)")).as("mass"))
        .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
      (base to LshMassMaxRows)
        .find(r => masses.getOrElse(r, 0L) <= LshMassTargetPerVec * n)
        .getOrElse(LshMassMaxRows)
    }
  }

  /** The dedup-grade operating point, registered first-class:
    * mass-adaptive depth (occupancy base deepened until measured
    * candidate mass fits the budget — see [[adaptiveLshRowsByMass]];
    * 8×8 at sf0.01 and 9-deep at sf0.1) from the 64-plane signature,
    * bands = 64/rows, exact rescore at cosine ≥ 0.8. This is the configuration a 100 TB
    * near-duplicate pass actually runs: at cosine 0.95 (true
    * near-clones) a plane agrees w.p. 0.90 and deep bands still collide
    * w.p. ≈ 0.99 in ≥1 band, while a random pair passes any 8-plane
    * band w.p. 0.5⁸ ≈ 0.4% (deeper rows push it lower still) — orders
    * of magnitude fewer candidates than the 0.4-threshold demo config
    * above, which is information-theoretically forced to pass ~64% of
    * random pairs (see [[LshBands]]). Sizing the depth costs one
    * count() (a parquet-metadata read) plus ONE O(n) mass-probe
    * aggregation covering every candidate depth. On the driver corpus
    * the result is EMPTY — measured pairwise cosine tops out at 0.51
    * (sf0.01) / 0.60 (sf0.1), so both engines agree the rescored set is
    * empty, which is itself the oracle-checked claim; AnnDedupGradeSpec
    * drives the same banding over a clone-pile corpus and asserts the
    * recall/selectivity numbers, and the jittered-replica ScaleGen
    * rungs measure it at 50k/150k vectors. */
  def annLshDedupPairs(spark: SparkSession, dir: String): DataFrame =
    annLshDedupPairsAt(spark, dir, 0.8)

  /** The dedup-grade operating point at a caller-chosen rescore
    * threshold (same mass-adaptive banding; the threshold only gates
    * the exact rescore, so EVERY registered threshold shares the
    * verified candidate machinery). The 0.45 registration exists
    * because the 0.8 row is VACUOUSLY green on the driver corpus —
    * measured max pairwise cosine is 0.51 (sf0.01) / 0.60 (sf0.1), so
    * both engines agree on the empty set, which proves the banding
    * only at the 100× clone-pile rungs. 0.45 is the highest round
    * threshold that is output-BEARING at both driver SFs, making the
    * oracle row a non-trivial hash over surfaced pairs + exact
    * cosines. */
  def annLshDedupPairsAt(spark: SparkSession, dir: String,
                         threshold: Double): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val rows = adaptiveLshRowsByMass(e, e.count())
    annLshNearDupPairsOver(e, 64 / rows, rows, threshold, LshBucketCap)
  }

  /** Parameterized form: bands×rows must fit the 64-plane signature;
    * raise rows (and the threshold) for dedup-grade corpora where the
    * near-dup band is well-separated from random pairs. */
  def annLshNearDupPairsWith(spark: SparkSession, dir: String,
                             bands: Int, rows: Int,
                             threshold: Double): DataFrame =
    annLshNearDupPairsOver(Tables.embeddings(spark, dir),
      bands, rows, threshold, LshBucketCap)

  /** The `bands` bucket keys of a 64-plane SrpSig64 column `sig`: band
    * b's bucket is the `rows`-bit slice starting at plane b·rows. */
  private def srpBandKeys(bands: Int, rows: Int): org.apache.spark.sql.Column = {
    // 1L shift: (1 << 32) == 1 in Int, which would mask every bucket to
    // 0 and silently degenerate the join to all-pairs; buckets are
    // BIGINT because rows can legitimately reach 64
    val mask = if (rows == 64) -1L else (1L << rows) - 1
    array((0 until bands).map(b => shiftright(col("sig"), b * rows).bitwiseAND(lit(mask))): _*)
  }

  /** Core over any (vec_id, embedding) frame — AnnLshCapSpec drives
    * it with an adversarial near-constant corpus and a tiny cap. The
    * banding is [[BandedPairs.candidates]] over one (vec_id, SrpSig64)
    * exchange, so the 64-dim arrays are read only by the banding scan
    * and the rescore side. */
  private[graft] def annLshNearDupPairsOver(e: DataFrame,
                                            bands: Int, rows: Int,
                                            threshold: Double,
                                            bucketCap: Int): DataFrame = {
    require(bands >= 1 && rows >= 1 && bands * rows <= 64,
      s"need bands >= 1, rows >= 1, bands*rows <= 64; got $bands x $rows " +
        "(rows = 0 would mask every bucket to 0 and degenerate to all-pairs)")
    val cand = BandedPairs.candidates(
      e.select(col("vec_id"), graft.functions.SrpSig64.of(col("embedding")).as("sig")),
      "vec_id", srpBandKeys(bands, rows), bucketCap)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    // rescore side reads the arrays straight off the source: it joins by
    // vec_id (broadcast under the budget, key-shuffle past it), so the
    // round-robin exchange the banding needs would be pure overhead here
    val n = e.select(col("vec_id"), col("embedding"), QDot.norm("embedding").as("nrm"))
    cand
      .join(n.as("x"), col("vec_a") === col("x.vec_id"))
      .join(n.as("y"), col("vec_b") === col("y.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        QDot.cosine("x.embedding", "y.embedding", col("x.nrm"), col("y.nrm"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Oracle builder: per-(vec, band) `r`-bit buckets recomputed from
    * the md5 sign rule (plane p = band*r + j — identical to the
    * SrpSig64 bit layout), hot cells beyond the cap removed, then the
    * same distinct-candidates → exact-rescore composition. One builder
    * for every registered operating point so the banding arithmetic
    * cannot drift between them. `rE` is a SQL expression over `n`
    * (corpus row count) evaluated once in the cfg CTE — a literal for
    * the static config, the integer CASE ladder for the adaptive one;
    * cfg is CROSS JOINed into the row stream because DuckDB allows
    * captured columns inside lambda bodies but not subqueries. Bands
    * are always 64 // r (the whole 64-plane signature banded). */
  private def annLshPairsSqlCore(rE: String, threshold: Double, cap: Int): String = s"""
WITH n AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS nrm FROM embeddings),
cfg AS (SELECT CAST($rE AS INT) AS r FROM (SELECT COUNT(*) AS n FROM embeddings)),
g AS (SELECT unnest(generate_series(0, 64 // r - 1)) AS band FROM cfg),
b AS (
  SELECT n.vec_id, g.band,
         CAST(list_sum(list_transform(generate_series(0, c.r - 1), j ->
           CASE WHEN list_sum(list_transform(generate_series(1, len(n.embedding)), i ->
                       ${duckQz("n.embedding[i]")}
                       * CASE WHEN (CAST(('0x' || substr(md5(CAST(g.band * c.r + j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT) & 1) = 1
                              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)) > 0
                THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS bucket
  FROM n CROSS JOIN cfg c CROSS JOIN g),${BandedPairs.candidateCtes("b", "vec_id", "vec", cap)}
${rescoreSql("n", threshold)}"""

  /** The exact-rescore tail shared by both oracle builders: every
    * `cand` pair joined to `vecs` (vec_id, embedding, nrm) and kept at
    * integer-quantized cosine ≥ `threshold`. */
  private def rescoreSql(vecs: String, threshold: Double): String = s"""SELECT c.vec_a, c.vec_b,
       ${duckCos("x", "y")} AS cosine
FROM cand c JOIN $vecs x ON c.vec_a = x.vec_id JOIN $vecs y ON c.vec_b = y.vec_id
WHERE ${duckCos("x", "y")} >= $threshold"""

  val annLshNearDupPairsSql: String =
    annLshPairsSqlCore(LshRows.toString, 0.4, LshBucketCap)

  /** The [[adaptiveLshRows]] doubling loop as an integer CASE ladder —
    * bit-exact on both engines (no float log2 at a ceil boundary). */
  private val adaptiveRowsCaseE: String =
    (8 until 32).map(r =>
      s"WHEN n <= ${LshAdaptiveTargetOccupancy * (1L << r)} THEN $r")
      .mkString("CASE ", " ", " ELSE 32 END")

  /** Oracle for the mass-adaptive dedup operating point. Mirrors
    * [[adaptiveLshRowsByMass]] end to end: occupancy base via the CASE
    * ladder, per-depth capped candidate masses Σ C(occ,2) for every
    * depth in [8, 32] (refinement consults only [base, 16], exactly
    * like the Scala loop; depths beyond 16 exist so an occupancy base
    * > 16 still has its buckets defined), smallest refining depth with
    * mass ≤ target·n else 16, then the same hot-cell drop → distinct
    * candidates → exact integer rescore as the engine. Structurally
    * cheaper than the per-row lambda form: the md5 sign matrix is a
    * 64×dims CTE computed once and joined, not recomputed per row. */
  val annLshDedupPairsSql: String = annLshDedupPairsSqlAt(0.8)

  /** The adaptive-depth replay at any rescore threshold (shared by the
    * 0.8 dedup row and the output-bearing 0.45 row). */
  def annLshDedupPairsSqlAt(threshold: Double): String = s"""
WITH cnt AS (SELECT COUNT(*) AS n FROM embeddings),
base AS (SELECT CAST(($adaptiveRowsCaseE) AS INT) AS r0, n FROM cnt),
planes AS (
  SELECT p.p, i.i,
         CASE WHEN (CAST(('0x' || substr(md5(CAST(p.p AS VARCHAR) || '_' || CAST(i.i AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT) & 1) = 1
              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS s
  FROM (SELECT unnest(generate_series(0, 63)) AS p) p
  CROSS JOIN (SELECT unnest(generate_series(1, (SELECT MAX(len(embedding)) FROM embeddings))) AS i) i),
comps AS (
  SELECT vec_id,
         unnest(list_transform(generate_series(1, len(embedding)),
           i -> {'i': i, 'q': ${duckQz("embedding[i]")}})) AS u
  FROM embeddings),
cvals AS (SELECT vec_id, u.i AS i, u.q AS q FROM comps),
bits AS (
  SELECT c.vec_id, pl.p,
         CASE WHEN SUM(c.q * pl.s) > 0 THEN 1 ELSE 0 END AS bit
  FROM cvals c JOIN planes pl ON c.i = pl.i
  GROUP BY c.vec_id, pl.p),
rs AS (SELECT unnest(generate_series(8, 32)) AS r),
buckets AS (
  SELECT b.vec_id, rs.r, CAST(b.p // rs.r AS INT) AS band,
         SUM(CAST(b.bit AS BIGINT) << (b.p % rs.r)) AS bucket
  FROM bits b CROSS JOIN rs
  WHERE b.p < rs.r * (64 // rs.r)
  GROUP BY b.vec_id, rs.r, b.p // rs.r),
cells AS (SELECT r, band, bucket, COUNT(*) AS c FROM buckets GROUP BY 1, 2, 3),
masses AS (
  SELECT r, COALESCE(SUM(CASE WHEN c > $LshBucketCap THEN 0 ELSE c * (c - 1) // 2 END), 0) AS mass
  FROM cells GROUP BY r),
chosen AS (
  SELECT CASE WHEN b.r0 >= $LshMassMaxRows THEN b.r0
              ELSE COALESCE((SELECT MIN(m.r) FROM masses m
                             WHERE m.r >= b.r0 AND m.r <= $LshMassMaxRows
                               AND m.mass <= $LshMassTargetPerVec * b.n), $LshMassMaxRows)
         END AS r
  FROM base b),
sel AS (SELECT bu.vec_id, bu.band, bu.bucket FROM buckets bu JOIN chosen ch ON bu.r = ch.r),${BandedPairs.candidateCtes("sel", "vec_id", "vec", LshBucketCap)},
vecs AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS nrm FROM embeddings)
${rescoreSql("vecs", threshold)}"""

  // ------------------------------------------- bounded-state dedup reps

  /** Spanning-star edges of the dedup similarity graph, ONE per
    * (kept LSH cell, member beyond its local component's min) — the
    * bounded-state input [[annDedupRepsOver]] feeds connected
    * components instead of the full qualifying pair list.
    *
    * Why: the pair list is intrinsically quadratic in clone
    * multiplicity (measured ~87M pairs / ~76 GB of live candidate-join
    * state at the 300× rung — the one operator that had to be
    * skip-listed there). But CC only needs CONNECTIVITY, and
    * connectivity of the banded-LSH similarity graph decomposes by
    * cell: every qualifying candidate pair shares at least one kept
    * (band, bucket) cell, so the global graph is exactly the union of
    * the per-cell qualifying subgraphs. Replacing each cell's subgraph
    * with a spanning forest (each local component's members star-linked
    * to the component's min vec_id) preserves per-cell connectivity,
    * hence global connectivity, hence the CC fixpoint — the
    * recursive-CTE oracle over the FULL pair SQL stays bit-green while
    * edge state drops to ≤ n·bands rows.
    *
    * Execution: cells group via one `groupByKey` on (band, bucket) —
    * group size is capped by the hot-cell drop (≤ `bucketCap` members,
    * ~3 MB with 64-dim embeddings), so the per-group union-find is
    * bounded-memory however degenerate the corpus. Within a group,
    * members are scanned in vec_id order and each (i, j) pair is
    * exactly rescored ONLY if still in different local components —
    * skipping a comparison of already-connected members cannot change
    * connectivity, and on a clone pile it collapses the C(m,2) rescore
    * work to O(m) (member 2..m each match member 1 on their first
    * probe). Worst case (nothing matches) stays ≤ C(cap, 2) integer
    * dot products per cell — the same bound the join form had, without
    * materializing any pair. The quantized arithmetic is the exact
    * [[graft.functions.QDot]] semantics (floor(x·1e7) longs, IEEE
    * double divide), so a rescore here passes iff the join form's
    * rescore passes. */
  private[graft] def annLshStarEdgesOver(e: DataFrame,
                                         bands: Int, rows: Int,
                                         threshold: Double,
                                         bucketCap: Int): DataFrame = {
    require(bands >= 1 && rows >= 1 && bands * rows <= 64,
      s"need bands >= 1, rows >= 1, bands*rows <= 64; got $bands x $rows")
    val spark = e.sparkSession
    import spark.implicits._
    // the per-cell union-find needs every kept row's embedding inside its
    // cell group, so the arrays ride the banding exchange (the hot-cell
    // count still reads only (vec_id, sig)): rejoining them to narrow kept
    // rows would add a second exchange of arrays before the groupByKey
    val kept = BandedPairs.kept(
      e.select(col("vec_id"), col("embedding"),
        graft.functions.SrpSig64.of(col("embedding")).as("sig")),
      "vec_id", srpBandKeys(bands, rows), bucketCap)
    kept.select(col("band"), col("bucket"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Long, Array[Float])]
      .groupByKey { case (band, bucket, _, _) => (band, bucket) }
      .flatMapGroups { (_: (Int, Long), it: Iterator[(Int, Long, Long, Array[Float])]) =>
        starEdgesOf(it.map { case (_, _, id, emb) => (id, emb) }.toArray,
          threshold)
      }
      .toDF("vec_a", "vec_b")
      .distinct()
  }

  /** The bounded union-find spanning-star kernel over ONE group's
    * members — shared by the banded-LSH cells above and the semantic
    * dedup cells below (one blocking function is hash bands, the other
    * a trained quantizer; the within-group machinery is identical).
    * Members are scanned in vec_id order; each (i, j) pair is exactly
    * rescored with the [[graft.functions.QDot]] integer semantics ONLY
    * while still in different local components (skipping a comparison
    * of already-connected members cannot change connectivity; on a
    * clone pile it collapses C(m,2) rescores to O(m)); each local
    * component emits its members star-linked to its min vec_id. */
  private def starEdgesOf(members: Array[(Long, Array[Float])],
                          threshold: Double): Iterator[(Long, Long)] = {
    val ms = members.sortBy(_._1)
    val n = ms.length
    if (n < 2) Iterator.empty
    else {
      val q = ms.map { case (_, emb) => QDot.quantize(emb) }
      val nrm = q.map(a => math.sqrt(QDot.dot(a, a).toDouble))
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      var j = 1
      while (j < n) {
        var i = 0
        while (i < j) {
          val ri = find(i); val rj = find(j)
          if (ri != rj) {
            val cos = QDot.dot(q(i), q(j)).toDouble / (nrm(i) * nrm(j))
            // same IEEE expression tree as the join form's rescore
            if (cos >= threshold) parent(math.max(ri, rj)) = math.min(ri, rj)
          }
          i += 1
        }
        j += 1
      }
      // members sorted by vec_id ⇒ a component's min INDEX is its
      // min vec_id — the star center
      val byRoot = (0 until n).groupBy(find)
      byRoot.valuesIterator.flatMap { idxs =>
        val center = ms(idxs.min)._1
        idxs.iterator.filter(_ != idxs.min)
          .map(i => (center, ms(i)._1))
      }
    }
  }

  /** The output-BOUNDED form of embedding deduplication — what a 100 TB
    * pipeline actually ships: [[annLshDedupPairs]] emits one row per
    * near-duplicate PAIR, which is intrinsically quadratic in clone
    * multiplicity (measured: 9.9M pairs at the 100× rung's piles of
    * 100), while this op collapses the pair graph to connected
    * components and elects the min-vec_id representative per cluster —
    * output exactly one row per VECTOR, whatever the clone structure.
    * The intermediate state is bounded too: CC consumes the spanning
    * STAR edges of the similarity graph ([[annLshStarEdgesOver]] —
    * ≤ n·bands rows, connectivity-identical to the full pair list by
    * per-cell decomposition), not the quadratic pair list itself, then
    * the shared minimum-label-propagation CC ([[graft.text
    * .DedupClusters.connectedComponents]] — per-round one shuffle join
    * + one groupBy min, no driver-side graph). On the
    * driver corpus the similarity graph is EMPTY (pairwise cosine tops
    * out at 0.51/0.60 < 0.8), so every vector is its own keeper — the
    * oracle checks exactly that fixpoint via the same recursive CTE;
    * AnnDedupGradeSpec drives clone piles and asserts each pile
    * collapses to one representative.
    *
    * One materialized CC run per application and collection vintage
    * ([[graft.Memo]]): the label propagation executes jobs eagerly at
    * construction and caches label rounds, so re-running it per bench
    * pass would stack abandoned cache entries, and a regenerated corpus
    * under the same path must not serve the stale result. */
  def annDedupReps(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("ann_dedup_reps", dir), IndexStore.vintage(spark, dir, Seq("embeddings")))(
      annDedupRepsOver(Tables.embeddings(spark, dir)))

  /** Core over any (vec_id, embedding) frame (spec surface). The CC
    * input is [[annLshStarEdgesOver]] — connectivity-equivalent to the
    * full qualifying pair list (AnnDedupGradeSpec machine-checks the
    * equivalence on clone piles AND on within-bucket chain corpora
    * where member↔member edges exist that no member↔bucket-min rescore
    * would find), at ≤ n·bands edge rows instead of a
    * clone-multiplicity-quadratic pair list. Star trees are one hop
    * deeper than the cliques they replace, so the propagation budget
    * gets headroom over the default. */
  private[graft] def annDedupRepsOver(e: DataFrame): DataFrame = {
    val n = e.count()
    val rows = adaptiveLshRowsByMass(e, n)
    val edges = annLshStarEdgesOver(e, 64 / rows, rows, 0.8, LshBucketCap)
    graft.text.DedupClusters
      .connectedComponents(e.select(col("vec_id").as("id")), edges,
        maxRounds = ccRoundBudget(n))
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"),
        col("is_keeper"))
  }

  /** Label-propagation round budget scaled to the corpus: star forests
    * roughly double worst-case propagation depth vs the cliques they
    * replace, and a fixed 30 would turn a long cross-cell chain corpus
    * that previously converged into a loud abort. Budget = 2·⌈log2 n⌉
    * + 10, floored at 30 — min-label propagation over any graph whose
    * diameter grows no faster than logarithmically in n (every corpus
    * family the specs drive, including chains of piles) converges well
    * inside it, and the IllegalStateException backstop stays loud. */
  private[graft] def ccRoundBudget(n: Long): Int = {
    val log2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))
    math.max(30, 2 * log2 + 10)
  }

  /** Recursive-CTE twin over the SAME pair SQL the ann_lsh_dedup_pairs
    * oracle verifies (nested WITH in a derived table), min label per
    * node fixpoint — the iterative Spark algorithm is value-verified
    * against a closed-form reachability computation. */
  val annDedupRepsSql: String = s"""
WITH RECURSIVE prs AS (
  SELECT vec_a AS a, vec_b AS b FROM ($annLshDedupPairsSql) t),
edges AS (SELECT a, b FROM prs UNION ALL SELECT b, a FROM prs),
reach(node, label) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON r.node = e.b),
rch AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
sizes AS (SELECT label AS cluster_id, COUNT(*) AS cluster_size FROM rch GROUP BY label)
SELECT r.node AS vec_id, r.label AS cluster_id, s.cluster_size,
       r.node = r.label AS is_keeper
FROM rch r JOIN sizes s ON r.label = s.cluster_id"""

  /** Output-BOUNDED rollup of the dedup-grade pair stream — what a
    * 100 TB run reports instead of LISTING pairs (the pair list is
    * quadratic in clone multiplicity; its global statistics are five
    * numbers). Since round 12 the rollup aggregates IN-PASS inside the
    * per-cell scan ([[annDedupPairStatsOver]]): nothing pair-shaped is
    * ever materialized — not even as shuffle state, which is what kept
    * the previous pairs-plan-then-agg form on the 300× skip list (the
    * candidate self-join held ~76 GB of live state there). MIN/MAX over
    * cross-engine-identical cosines need no decimal snap (no
    * summation), and both engines agree COUNT over the empty stream is
    * 0 with NULL extrema. Oracle unchanged: it still nests the full
    * pair SQL, pinning once-per-unordered-pair counting. */
  def annDedupPairStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val rows = adaptiveLshRowsByMass(e, e.count())
    annDedupPairStatsOver(e, 64 / rows, rows, 0.8, LshBucketCap)
  }

  /** In-pass pair statistics over the banded-LSH candidate stream —
    * the five global numbers of [[annLshDedupPairsAt]]'s output without
    * materializing any pair, as one shuffle (the banded groupByKey) +
    * bounded per-cell work + one global aggregate.
    *
    * The once-per-pair contract: the join form counts each unordered
    * qualifying pair once because candidates are `.distinct()`ed across
    * bands before the rescore. Here a pair is instead ATTRIBUTED to its
    * minimal kept colliding band — for members i, j of cell (b, k),
    * both full 64-bit signatures are in hand, so every band b' where
    * they co-bucket is computable in-cell, and the hot-cell set (cells
    * with occupancy > cap — at most n·bands/cap entries, collected once
    * and broadcast; 2.4k entries at the 300× rung) tells which of those
    * collisions the anti-join would have kept. The pair is scored ONLY
    * in the first kept colliding band, so exactly one cell in the whole
    * corpus owns it — same pair set as the distinct-join, no shuffle of
    * pair-shaped anything. Each owned pair is exactly rescored with the
    * [[graft.functions.QDot]] integer semantics, so min/max cosine are
    * bit-identical to the join form's.
    *
    * Distinct endpoint counts don't decompose as per-cell scalars, so
    * cells emit their distinct qualifying endpoints as rows (≤ 2·cap
    * per cell, ≤ 2·n·bands globally — the star-edge bound, linear not
    * quadratic) and one `countDistinct` per side merges them; the pair
    * count and extrema ride along as one partial row per cell. */
  private[graft] def annDedupPairStatsOver(e: DataFrame,
                                           bands: Int, rows: Int,
                                           threshold: Double,
                                           bucketCap: Int): DataFrame = {
    require(bands >= 1 && rows >= 1 && bands * rows <= 64,
      s"need bands >= 1, rows >= 1, bands*rows <= 64; got $bands x $rows")
    val spark = e.sparkSession
    import spark.implicits._
    val mask = if (rows == 64) -1L else (1L << rows) - 1
    val ein = e.repartition(spark.sparkContext.defaultParallelism)
    val banded = ein
      .select(col("vec_id"), col("embedding"),
        graft.functions.SrpSig64.of(col("embedding")).as("sig"))
      .select(col("vec_id"), col("embedding"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .selectExpr("vec_id", "embedding", "sig", "band",
        s"cast(shiftright(sig, band * $rows) & $mask as bigint) as bucket")
    // hot cells collected ONCE: ≤ n·bands/cap entries (each holds > cap
    // of the n·bands banded rows) — bounded driver state in the
    // codebook/centroid class, reused for both the kept-filter and the
    // in-cell attribution
    val hotSet: Set[(Int, Long)] = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > bucketCap)
      .select("band", "bucket")
      .as[(Int, Long)].collect().toSet
    val hotB = spark.sparkContext.broadcast(hotSet)
    val kept =
      if (hotSet.isEmpty) banded
      else banded.join(
        broadcast(hotSet.toSeq.toDF("band", "bucket")),
        Seq("band", "bucket"), "left_anti")
    kept.select(col("band"), col("bucket"), col("vec_id"), col("embedding"),
        col("sig"))
      .as[(Int, Long, Long, Array[Float], Long)]
      .groupByKey { case (band, bucket, _, _, _) => (band, bucket) }
      .flatMapGroups { (key: (Int, Long),
                        it: Iterator[(Int, Long, Long, Array[Float], Long)]) =>
        val myBand = key._1
        val hot = hotB.value
        val ms = it.map { case (_, _, id, emb, sig) => (id, emb, sig) }
          .toArray.sortBy(_._1)
        val n = ms.length
        if (n < 2) Iterator.empty
        else {
          // per-member sub-bucket per band, from the full signature
          val sub = Array.tabulate(n, bands)((i, b) =>
            (ms(i)._3 >>> (b * rows)) & mask)
          val q = ms.map { case (_, emb, _) => QDot.quantize(emb) }
          val nrm = q.map(a => math.sqrt(QDot.dot(a, a).toDouble))
          var nPairs = 0L
          var minC = Double.NaN
          var maxC = Double.NaN
          val aSet = scala.collection.mutable.LongMap.empty[Unit]
          val bSet = scala.collection.mutable.LongMap.empty[Unit]
          var j = 1
          while (j < n) {
            var i = 0
            while (i < j) {
              // owner = first band where the pair co-buckets in a KEPT
              // cell; guaranteed ≤ myBand (this cell is one of them)
              var owner = -1
              var b = 0
              while (owner < 0 && b <= myBand) {
                if (sub(i)(b) == sub(j)(b) && !hot.contains((b, sub(i)(b))))
                  owner = b
                b += 1
              }
              if (owner == myBand) {
                // same IEEE expression tree as the join form's rescore
                val cos = QDot.dot(q(i), q(j)).toDouble / (nrm(i) * nrm(j))
                if (cos >= threshold) {
                  nPairs += 1
                  if (minC.isNaN || cos < minC) minC = cos
                  if (maxC.isNaN || cos > maxC) maxC = cos
                  aSet.update(ms(i)._1, ())
                  bSet.update(ms(j)._1, ())
                }
              }
              i += 1
            }
            j += 1
          }
          if (nPairs == 0L) Iterator.empty
          else Iterator.single(
              (0, 0L, nPairs, Option(minC), Option(maxC))) ++
            aSet.keysIterator.map(id => (1, id, 0L, Option.empty[Double], Option.empty[Double])) ++
            bSet.keysIterator.map(id => (2, id, 0L, Option.empty[Double], Option.empty[Double]))
        }
      }
      .toDF("kind", "id", "cnt", "minc", "maxc")
      // collapse to (kind, id) grain first — the q02/q05/q07 convention:
      // two countDistincts in the global aggregate planned a ×3 Expand
      // over the emitted stats stream; after the grain collapse the
      // distinct side counts become plain row counts, and the pair-count
      // sums/extrema re-aggregate associatively (kind-0 rows all carry
      // id 0, so their group preserves exact sums and min/max)
      .groupBy("kind", "id").agg(
        sum(col("cnt")).as("cnt"),
        min(col("minc")).as("minc"),
        max(col("maxc")).as("maxc"))
      .agg(
        coalesce(sum(when(col("kind") === 0, col("cnt"))), lit(0L))
          .as("n_pairs"),
        count(when(col("kind") === 1, 1)).as("n_vec_a"),
        count(when(col("kind") === 2, 1)).as("n_vec_b"),
        min(when(col("kind") === 0, col("minc"))).as("min_cosine"),
        max(when(col("kind") === 0, col("maxc"))).as("max_cosine"))
  }

  val annDedupPairStatsSql: String = s"""
SELECT COUNT(*) AS n_pairs,
       COUNT(DISTINCT vec_a) AS n_vec_a,
       COUNT(DISTINCT vec_b) AS n_vec_b,
       MIN(cosine) AS min_cosine,
       MAX(cosine) AS max_cosine
FROM ($annLshDedupPairsSql)"""

  /** Cluster-size histogram of the dedup components — the other
    * bounded executive view (≤ one row per distinct cluster size; on a
    * clone-pile corpus it reads "how many piles of how many"). Reuses
    * the [[annDedupReps]] materialization (same session cache), so in
    * a bench pass after the reps op this is one tiny re-aggregation. */
  def annDedupClusterHist(spark: SparkSession, dir: String): DataFrame =
    annDedupReps(spark, dir)
      .select(col("cluster_id"), col("cluster_size")).distinct()
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_vectors"))
      .orderBy("cluster_size")

  val annDedupClusterHistSql: String = s"""
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_vectors
FROM (SELECT DISTINCT cluster_id, cluster_size FROM ($annDedupRepsSql))
GROUP BY cluster_size
ORDER BY cluster_size"""

  // ---------------------------------------------------- semantic dedup

  /** Within-cluster near-dup threshold — SemDeDup-style semantic dedup
    * keeps one representative per tight cosine neighborhood. */
  val SemanticDedupThreshold = 0.85

  /** Cells larger than this emit singletons without pair generation —
    * the degenerate-partition guard (a cell's pair work is C(m, 2); the
    * cap bounds it at ~8.4M rescores however skewed the assignment).
    * A production run scales the quantizer's k with n (SemDeDup trains
    * k ∝ n clusters) so cells stay small by construction; the cap only
    * defends the frozen-index-on-grown-corpus case. */
  val SemanticCellCap = 4096

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023): assign
    * every vector to cells under the FROZEN IVF coarse quantizer
    * ([[Ivf.index]] — the same persisted index `ivf_search` serves
    * from; one build feeds search AND dedup), then within each cell
    * collapse cosine ≥ [[SemanticDedupThreshold]] neighborhoods and
    * elect the min-vec_id representative per component.
    *
    * MULTI-PROBE blocking (round 12): each vector blocks into its TOP-2
    * nearest centroids ([[graft.functions.QArgminCell]] at rank 2 computes the
    * runner-up from the stored centroids at serve time — the dedup
    * twin of IVF search's nprobe > 1). Single-probe assignment loses
    * every near-dup pair the quantizer splits across a cell boundary —
    * the blocking-loss eval below MEASURED that loss at 0.57/0.69 of
    * all eval-grade pairs on the driver corpora — and top-2 probing
    * recovers the pairs whose members sit near a shared boundary, the
    * geometrically common split. The search path is unchanged; only
    * dedup blocking gains the second probe.
    *
    * Execution stays bounded: probe rows (2 per vector) group by cell,
    * cells over [[SemanticCellCap]] contribute NO edges (their members
    * surface as singletons unless another probe cell links them), each
    * eligible cell runs the shared [[starEdgesOf]] union-find kernel
    * (O(m) rescores on a clone pile, ≤ C(cap, 2) worst case), and the
    * per-cell star edges feed one global min-label CC — needed now
    * that a vector's two probe cells can CHAIN components across cells
    * (the single-probe form's no-global-CC shortcut no longer applies;
    * state is still ≤ 2n edge rows, never pair-shaped). Differs from
    * [[annDedupReps]] in blocking semantics: LSH bands approximate the
    * FULL similarity graph; the semantic op blocks by a TRAINED
    * quantizer — the shape used to thin web-scale embedding corpora.
    *
    * Memoized like [[annDedupReps]]; its vintage is the same string that
    * keys the persisted IVF index, so a regenerated corpus (or the index
    * vintage it forces) within one session builds the result again. */
  def semanticDedupReps(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("semantic_dedup_reps", dir),
      IndexStore.vintage(spark, dir, Seq("embeddings")))(
      semanticDedupRepsMultiOver(
        multiProbeAssignments(Ivf.index(spark, dir)), SemanticCellCap))

  /** Top-2 probe assignment under a frozen index: the stored `cell`
    * (nearest centroid, persisted with the index) plus `cell2` (the
    * runner-up, one codegen'd k·dim pass over the stored centroids —
    * k ≤ a few thousand rows of driver state, the same bound the
    * argmin itself rides on). Null embeddings route to -1 on both
    * probes, exactly like the primary assignment. */
  private[graft] def multiProbeAssignments(idx: Ivf.IvfIndex): DataFrame = {
    val cents: Array[(Int, Array[Long])] = idx.centroids.collect().map(r =>
      (r.getAs[Number]("cell").intValue,
        r.getAs[Seq[Long]]("centroid").toArray))
    // a degenerate corpus can train fewer than 2 centroids (Ivf init
    // takes LIMIT k of the available vectors) — a 1-cell quantizer has
    // no runner-up, so degrade to single-probe (cell2 = -1) instead of
    // letting the rank-2 arity require throw at plan construction
    val cell2 = if (cents.length < 2) lit(-1) else Ivf.nearestCell(cents, rank = 2)
    idx.assignments.withColumn("cell2", cell2)
  }

  /** Multi-probe core over any (vec_id, embedding, cell, cell2) frame:
    * probe rows → cap-eligible cells → per-cell star edges
    * ([[starEdgesOf]]) → global min-label CC → primary cell joined
    * back. Output one row per vector: (vec_id, cell, cluster_id,
    * cluster_size, is_keeper). With `cell2 = cell` (no second probe)
    * every edge stays inside one cell, so this is single-probe SemDeDup:
    * components never span cells and over-cap cells stay singletons. */
  private[graft] def semanticDedupRepsMultiOver(assign2: DataFrame,
                                                cellCap: Int): DataFrame = {
    val spark = assign2.sparkSession
    import spark.implicits._
    val base = assign2.select(col("vec_id"), col("embedding"),
      col("cell").cast("int").as("cell"), col("cell2").cast("int").as("cell2"))
    val probes = base.select(col("cell"), col("vec_id"), col("embedding"))
      .unionAll(base.filter(col("cell2") =!= col("cell"))
        .select(col("cell2").as("cell"), col("vec_id"), col("embedding")))
      .filter(col("cell") >= 0)
    val big = probes.groupBy("cell").agg(count(lit(1)).as("df"))
      .filter(col("df") > cellCap).select("cell")
    val elig = probes.join(broadcast(big), Seq("cell"), "left_anti")
    val edges = elig.as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (_: Int, it: Iterator[(Int, Long, Array[Float])]) =>
        starEdgesOf(it.map(t => (t._2, t._3)).toArray, SemanticDedupThreshold)
      }
      .toDF("vec_a", "vec_b").distinct()
    graft.text.DedupClusters
      .connectedComponents(base.select(col("vec_id").as("id")), edges,
        maxRounds = ccRoundBudget(assign2.count()))
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"),
        col("is_keeper"))
      .join(base.select(col("vec_id"), col("cell")), "vec_id")
      .select(col("vec_id"), col("cell"), col("cluster_id"),
        col("cluster_size"), col("is_keeper"))
  }

  /** Blocking-loss eval for the semantic dedup — the dedup family's
    * counterpart of `ivf_recall`/`pq_recall`: of all EXACT cosine ≥
    * 0.45 pairs corpus-wide (brute force, the eval baseline — driver-SF
    * sized by design, like every recall row), what fraction co-assigns
    * to one IVF cell and is therefore visible to [[semanticDedupReps]]'
    * within-cell pass? 0.45 is the output-bearing eval threshold
    * ([[annLshDedupPairsAt]]'s `_t45` rationale — the dedup operating
    * point's 0.8 bar has NO qualifying pairs on the driver corpus, and
    * a 0/0 capture rate would be a vacuous oracle row). One number
    * nothing else registers: how much duplicate mass the trained
    * blocking function gives up for its no-global-CC scale shape. */
  def semanticDedupCaptureT45(spark: SparkSession, dir: String): DataFrame = {
    // the probe SETS (top-2 cells per vector) — captured means the two
    // vectors share at least one probe cell, i.e. some eligible cell's
    // within-cell pass can see the pair
    val cells = multiProbeAssignments(Ivf.index(spark, dir))
      .select(col("vec_id"),
        array(col("cell").cast("int"), col("cell2").cast("int")).as("cells"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), QDot.norm("embedding").as("nrm"))
    val pairs = e.repartition(spark.sparkContext.defaultParallelism).as("a")
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        QDot.cosine("a.embedding", "b.embedding", col("a.nrm"), col("b.nrm"))
          .as("cosine"))
      .filter(col("cosine") >= 0.45)
    pairs
      .join(cells.toDF("va", "cells_a"), "va")
      .join(cells.toDF("vb", "cells_b"), "vb")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(arrays_overlap(col("cells_a"), col("cells_b")), 1L)
          .otherwise(0L)).as("n_captured"))
      .select(col("n_pairs"), col("n_captured"),
        (col("n_captured").cast("double") / col("n_pairs").cast("double"))
          .as("capture_rate"))
  }

  val semanticDedupCaptureT45Sql: String = s"""
WITH ${Ivf.ivfCommonCtes},
${ivfRunnerUpCte},
probes AS (SELECT vec_id, cell FROM afin UNION ALL SELECT vec_id, cell FROM a2nd),
n AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS nrm FROM embeddings),
prs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE ${duckCos("a", "b")} >= 0.45),
cap AS (
  SELECT DISTINCT p.va, p.vb
  FROM prs p
  JOIN probes x ON x.vec_id = p.va
  JOIN probes y ON y.vec_id = p.vb AND y.cell = x.cell)
SELECT np.n_pairs, nc.n_captured,
       CAST(nc.n_captured AS DOUBLE) / CAST(np.n_pairs AS DOUBLE) AS capture_rate
FROM (SELECT COUNT(*) AS n_pairs FROM prs) np
CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_captured FROM cap) nc"""

  /** The runner-up assignment CTE (`a2nd`) — the rn = 2 row of the
    * exact d2-then-cell ordering `afin` takes rn = 1 from. Shared by the
    * semantic reps and capture oracles so the probe arithmetic cannot
    * drift. A def: vals on both sides of it interpolate it. */
  private def ivfRunnerUpCte: String =
    Ivf.nearestCellCte("a2nd", "q", s"c${Ivf.Iterations}", rank = 2)

  /** DuckDB replay: deterministic Lloyd (the ivf_cells contract) → the
    * TOP-2 probe assignment (afin ∪ the rn = 2 runner-up) → within-cell
    * qualifying pairs over cap-eligible probe cells, each unordered
    * pair once (DISTINCT — a pair can share both probe cells) →
    * min-label reachability fixpoint — the same recursive-CTE machinery
    * as [[annDedupRepsSql]], which is connectivity-equivalent to the
    * union-find's rescore-while-separate shortcut. */
  val semanticDedupRepsSql: String = s"""
WITH RECURSIVE ${Ivf.ivfCommonCtes},
${ivfRunnerUpCte},
probes AS (SELECT vec_id, qe, cell FROM afin
           UNION ALL SELECT vec_id, qe, cell FROM a2nd),
big AS (SELECT cell FROM probes GROUP BY cell HAVING COUNT(*) > $SemanticCellCap),
elig AS (SELECT * FROM probes ANTI JOIN big USING (cell)),
prs AS (
  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
  FROM elig a JOIN elig b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ${Grid.cosine("a.qe", "b.qe")} >= $SemanticDedupThreshold),
edges AS (SELECT a, b FROM prs UNION ALL SELECT b, a FROM prs),
reach(node, label) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON r.node = e.b),
rch AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
sizes AS (SELECT label AS cluster_id, COUNT(*) AS cluster_size FROM rch GROUP BY label)
SELECT r.node AS vec_id, CAST(a.cell AS INT) AS cell, r.label AS cluster_id,
       s.cluster_size, r.node = r.label AS is_keeper
FROM rch r JOIN afin a ON a.vec_id = r.node
JOIN sizes s ON r.label = s.cluster_id"""

  /** Int8 quantization of the embedding store — the storage-reduction
    * pass a 100 TB vector corpus runs before serving (4x smaller than
    * float32, cosine ranking preserved to ~1e-2): per-dimension min/max
    * over the collection, then code = floor((v-lo)/(hi-lo)*255) clamped
    * to [0,254] (floor, not round — rounding modes differ across
    * engines; a constant dimension codes to 0). Emitted as exploded
    * (vec_id, dim, code) rows: scalar columns keep the result
    * hash-comparable, and at scale the consumer re-packs per vec.
    * One groupBy(dim) for ranges (64 rows, broadcast back); the coding
    * pass is narrow and shuffle-free. QuantizeSpec bounds the
    * dequantized cosine error against the exact QDot cosine. */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val ranges = dims.groupBy("dim")
      .agg(min("v").as("lo"), max("v").as("hi"))
    dims.join(broadcast(ranges), "dim")
      .select(col("vec_id"), col("dim"),
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit(254L),
            floor((col("v") - col("lo")) / (col("hi") - col("lo")) * lit(255.0))
              .cast("long")))
          .as("code"))
  }

  val embeddingQuantizeSql: String = """
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
ranges AS (SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM dims GROUP BY dim)
SELECT d.vec_id, d.dim,
       CASE WHEN r.hi = r.lo THEN 0
            ELSE least(254, CAST(floor((d.v - r.lo) / (r.hi - r.lo) * 255.0) AS BIGINT))
       END AS code
FROM dims d JOIN ranges r ON d.dim = r.dim"""

  val ops: Seq[Op] = Seq(
    Op("ann_cosine_topk", annCosineTopK, annCosineTopKSql, Ext),
    Op("embedding_near_dup_pairs", embeddingNearDupPairs, embeddingNearDupPairsSql),
    Op("ann_lsh_buckets", annLshBuckets, annLshBucketsSql, Ext),
    Op("ann_lsh_near_dup_pairs_demo", annLshNearDupPairs, annLshNearDupPairsSql, Ext),
    // the pair-LISTING contract op: its output is ~quadratic in clone
    // multiplicity, so the 300× rung class-skips it (SPARK_GRAFT_BENCH_
    // SKIP_CLASS=listing) while its three output-bounded twins, reps and
    // the two rollups, run unskipped everywhere
    Op("ann_lsh_dedup_pairs", annLshDedupPairs, annLshDedupPairsSql, Listing),
    // eval: the 0.45 operating point exists to be output-bearing at the
    // oracle scales (sf0.01, sf0.1), not to be scaled
    Op("ann_lsh_dedup_pairs_t45", (s, d) => annLshDedupPairsAt(s, d, 0.45), annLshDedupPairsSqlAt(0.45), Eval),
    Op("ann_dedup_reps", annDedupReps, annDedupRepsSql, Ext),
    // the output-bounded rollups: the rows a 300× rung runs where the
    // pair listing's collect can't
    Op("ann_dedup_pair_stats", annDedupPairStats, annDedupPairStatsSql, Ext),
    Op("ann_dedup_cluster_hist", annDedupClusterHist, annDedupClusterHistSql, Ext),
    Op("semantic_dedup_reps", semanticDedupReps, semanticDedupRepsSql, Ext),
    // eval: a Θ(n²) brute-force all-pairs capture check (round 12's rung
    // overran by hours with it on the roster)
    Op("semantic_dedup_capture_t45", semanticDedupCaptureT45, semanticDedupCaptureT45Sql, Eval),
    Op("embedding_quantize", embeddingQuantize, embeddingQuantizeSql))
}
