package graft.text

import graft.{Det, Op, Tables}
import graft.Op.Ext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The operators composed into an actual corpus-curation pass — what a
  * training-data pipeline runs end-to-end: exact-dedup to a canonical
  * representative, a quality gate over the text statistics, the
  * deterministic stratified sampler, then per-language corpus accounting.
  * One registered query proves the pieces COMPOSE (same semantics in the
  * DuckDB oracle, which nests the individual queries' SQL as CTEs).
  *
  * Determinism note: per-language mean quality is reported as an exact
  * integer sum of 1e-6-quantized scores (`qsum_micros`) rather than a
  * floating AVG — distributed double summation is partition-order
  * dependent, the quantized BIGINT sum is not ([[graft.Det]] rules).
  *
  * Scale posture: dedup is one hash-groupBy; the gates are semi-joins on
  * doc_id (broadcastable once filtered); stats are a narrow no-shuffle
  * projection — the whole pass is two shuffles (dedup + final groupBy)
  * regardless of corpus size.
  */
object Curation {
  /** The per-document curated corpus — exact-dedup representatives ∩
    * stratified sample, quality-gated — carrying text and the stats a
    * training dataloader wants per row. [[corpusCuration]] is its
    * per-lang rollup (text prunes away there), and the pipeline's
    * `curate_corpus` stage ships THIS frame via
    * [[graft.sources.Sources.writeSharded]]. */
  def curatedDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    // exact-dedup representatives: min doc_id per content hash — the one
    // piece that MUST see the whole corpus (a pre-filtered dedup would
    // pick different representatives)
    val reps = d.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    // The sampler's predicate is a pure function of (doc_id, lang), so it
    // applies as a NARROW filter on the probe side before the dedup join
    // (same rows as joining the sampler's output — DedupClusters.sampleKeep),
    // and the stats compute AFTER the join/filters, only for survivors.
    // vs the naive three-join form: two scans of documents instead of
    // four, one shuffle join instead of three, and TextStatsSig runs on
    // the curated fraction instead of the full corpus.
    TextOps.withTextStats(
        d.select("doc_id", "lang", "text")
          .filter(DedupClusters.sampleKeep)
          .join(reps, "doc_id"))
      .filter(col("quality_score") >= 60.0)
      .select("doc_id", "lang", "text", "est_bpe_tokens", "quality_score")
  }

  def corpusCuration(spark: SparkSession, dir: String): DataFrame =
    curatedDocs(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("est_bpe_tokens").as("total_bpe_tokens"),
        min("quality_score").as("min_quality"),
        max("quality_score").as("max_quality"),
        sum(floor(col("quality_score") * lit(1e6)).cast(LongType)).as("qsum_micros"))
      .orderBy("lang")

  /** The per-document curated corpus, oracled directly (not just via its
    * [[corpusCuration]] rollup): this is the frame the pipeline's
    * curate_corpus stage ships, so its exact row set — representatives ∩
    * sample, quality-gated, with the stats a dataloader reads — is worth
    * its own gate. The oracle composes the pieces as joins on the
    * operators' OUTPUTS; the Spark side applies the sampler predicate as
    * a narrow filter — the equivalence (pure function of row identity)
    * is exactly what this oracle locks in. */
  val curatedDocsSql: String = s"""
WITH reps AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
stats AS (${TextOps.textStatsSql}),
sampled AS (${DedupClusters.stratifiedSampleSql})
SELECT d.doc_id, d.lang, d.text, s.est_bpe_tokens, s.quality_score
FROM documents d
JOIN reps r ON d.doc_id = r.doc_id
JOIN sampled sm ON d.doc_id = sm.doc_id
JOIN stats s ON d.doc_id = s.doc_id
WHERE s.quality_score >= 60.0"""

  /** The oracle nests the already-verified stats and sampler SQL as CTEs
    * — verifying the composition, not re-deriving the pieces. */
  val corpusCurationSql: String = s"""
WITH reps AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
stats AS (${TextOps.textStatsSql}),
sampled AS (${DedupClusters.stratifiedSampleSql})
SELECT d.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(s.est_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       MIN(s.quality_score) AS min_quality,
       MAX(s.quality_score) AS max_quality,
       CAST(SUM(CAST(floor(s.quality_score * 1e6) AS BIGINT)) AS BIGINT) AS qsum_micros
FROM documents d
JOIN reps r ON d.doc_id = r.doc_id
JOIN sampled sm ON d.doc_id = sm.doc_id
JOIN stats s ON d.doc_id = s.doc_id
WHERE s.quality_score >= 60.0
GROUP BY d.lang
ORDER BY d.lang"""

  /** The frame the pipeline's curate_corpus stage actually publishes:
    * [[curatedDocs]] minus (a) the benchmark slice ITSELF and (b) the
    * passage-level contamination flags ([[TextOps.winnowDecontamination]]).
    * (a) exists because the decontamination gate only flags TRAIN docs
    * overlapping the benchmark — the benchmark documents are excluded
    * from flagging by construction, so without the explicit source
    * filter the published training corpus would ship the benchmark
    * slice verbatim: the strongest contamination the gate exists to
    * prevent. Both exclusions are doc_id anti-joins against slices that
    * are tiny relative to the corpus (eval suites and their overlaps),
    * so they broadcast. */
  def publishedCorpus(spark: SparkSession, dir: String): DataFrame =
    curatedDocs(spark, dir)
      .join(Tables.documents(spark, dir)
          .filter(col("source") === TextOps.BenchmarkSource).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .join(TextOps.winnowDecontamination(spark, dir).select("doc_id"),
        Seq("doc_id"), "left_anti")

  /** Oracle: the curated-docs SQL with both exclusions as anti-joins —
    * the composition the pipeline ships is itself oracle-gated. */
  lazy val publishedCorpusSql: String = s"""
WITH curated AS ($curatedDocsSql),
flagged AS (${TextOps.winnowDecontaminationSql})
SELECT c.* FROM curated c
ANTI JOIN (SELECT doc_id FROM documents WHERE source = '${TextOps.BenchmarkSource}') b USING (doc_id)
ANTI JOIN flagged USING (doc_id)"""

  /** Corpus accounting per (source, lang) — the mixture-weight input:
    * documents, chars, estimated BPE tokens, and each cell's share of
    * the corpus token total. One groupBy plus a broadcast grand total;
    * shares stay exact because both sides are integer token sums. */
  def corpusTokenAccounting(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        TextOps.estBpeTokens.as("est_bpe_tokens"),
        length(col("text")).cast(LongType).as("n_chars"))
    val g = d.groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("est_bpe_tokens").as("total_bpe_tokens"))
    val tot = g.agg(sum("total_bpe_tokens").as("__tot"))
    g.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_docs"), col("total_chars"),
        col("total_bpe_tokens"),
        (col("total_bpe_tokens").cast("double") * lit(100.0)
          / col("__tot").cast("double")).as("token_share_pct"))
      .orderBy("source", "lang")
  }

  val corpusTokenAccountingSql: String = s"""
WITH d AS (SELECT doc_id, source, lang,
                  ${TextOps.estBpeTokensSqlE} AS est_bpe_tokens,
                  CAST(length(text) AS BIGINT) AS n_chars
           FROM documents),
g AS (SELECT source, lang, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(est_bpe_tokens) AS BIGINT) AS total_bpe_tokens
      FROM d GROUP BY source, lang),
t AS (SELECT CAST(SUM(total_bpe_tokens) AS BIGINT) AS tot FROM g)
SELECT g.source, g.lang, g.n_docs, g.total_chars, g.total_bpe_tokens,
       CAST(g.total_bpe_tokens AS DOUBLE) * 100.0 / CAST(t.tot AS DOUBLE) AS token_share_pct
FROM g CROSS JOIN t
ORDER BY g.source, g.lang"""

  /** Mixture weights (percent) per language for [[corpusMixBudget]] —
    * the "domain weights" knob of a training-corpus recipe. */
  val MixWeightPct: Seq[(String, Long)] =
    Seq("en" -> 40L, "zh" -> 15L, "fr" -> 15L, "es" -> 15L, "de" -> 15L)
  /** Overall token budget as a percent of the corpus total. */
  val MixBudgetPct = 30L

  /** Corpus mixing under a token budget: allocate
    * `MixBudgetPct`% of the corpus's estimated BPE tokens across
    * languages by [[MixWeightPct]], then select documents per stratum
    * via an md5-derived uniform at the stratum's selection fraction
    * (`min(1, target/stratum_tokens)`). Hits each target in
    * EXPECTATION — the deliberate 100 TB trade: the exact-cut
    * formulation (running token sum per stratum, stop at the budget)
    * needs a per-stratum TOTAL ORDER, which with a handful of strata is
    * a handful of serial reducers over the whole corpus; the
    * hash-threshold form is a narrow, partitioning-independent filter
    * (two scans + one broadcast join), and sampling noise at corpus
    * scale is relative ~1/√docs. Weight-0 languages (absent from
    * [[MixWeightPct]]) select nothing and drop out of the rollup.
    * Integer targets all the way (`div`), so both engines compute
    * identical budgets; the uniform and the fraction compare are the
    * same IEEE doubles from the same integers. */
  def corpusMixBudget(spark: SparkSession, dir: String): DataFrame =
    corpusMixBudgetOver(Tables.documents(spark, dir))

  /** Parameterized core over any (doc_id, lang, text) frame
    * (CurationMixSpec). */
  private[graft] def corpusMixBudgetOver(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), col("lang"), TextOps.estBpeTokens.as("toks"))
    val strata = d.groupBy("lang").agg(sum("toks").as("stratum_tokens"))
    val grand = strata.agg(sum("stratum_tokens").as("corpus_tokens"))
    val weight = MixWeightPct.foldLeft(lit(0L)) { case (acc, (l, w)) =>
      when(col("lang") === l, lit(w)).otherwise(acc)
    }
    val targets = strata.crossJoin(broadcast(grand))
      .withColumn("target_tokens",
        expr(s"((corpus_tokens * $MixBudgetPct) div 100)") * weight / lit(100L))
      .withColumn("target_tokens", expr("cast(floor(target_tokens) as bigint)"))
      .select("lang", "stratum_tokens", "target_tokens")
    val u = expr(
      "cast(conv(substr(md5(concat('mix:', cast(doc_id as string))), 1, 12), 16, 10) as double) / 281474976710656.0")
    d.join(broadcast(targets), "lang")
      .filter(u < least(lit(1.0),
        col("target_tokens").cast("double") / col("stratum_tokens").cast("double")))
      .groupBy("lang", "stratum_tokens", "target_tokens")
      .agg(count(lit(1)).as("n_selected"), sum("toks").as("selected_tokens"))
      .orderBy("lang")
  }

  lazy val corpusMixBudgetSql: String = {
    val weightCase = MixWeightPct
      .map { case (l, w) => s"WHEN '$l' THEN $w" }.mkString(" ")
    s"""
WITH d AS (SELECT doc_id, lang, ${TextOps.estBpeTokensSqlE} AS toks FROM documents),
strata AS (SELECT lang, CAST(SUM(toks) AS BIGINT) AS stratum_tokens FROM d GROUP BY lang),
grand AS (SELECT CAST(SUM(stratum_tokens) AS BIGINT) AS corpus_tokens FROM strata),
t AS (SELECT lang, stratum_tokens,
             CAST(floor(CAST(((corpus_tokens * $MixBudgetPct) // 100)
                             * (CASE lang $weightCase ELSE 0 END) AS DOUBLE) / 100.0) AS BIGINT)
               AS target_tokens
      FROM strata CROSS JOIN grand),
sel AS (SELECT d.lang, d.toks, t.stratum_tokens, t.target_tokens
        FROM d JOIN t USING (lang)
        WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT AS DOUBLE)
                / 281474976710656.0
              < least(1.0, CAST(target_tokens AS DOUBLE) / CAST(stratum_tokens AS DOUBLE)))
SELECT lang, stratum_tokens, target_tokens,
       COUNT(*) AS n_selected, CAST(SUM(toks) AS BIGINT) AS selected_tokens
FROM sel GROUP BY lang, stratum_tokens, target_tokens
ORDER BY lang"""
  }

  /** Temperature exponent for the multilingual sampling weights — the
    * α in pᵢ ∝ nᵢ^α from the multilingual-pretraining literature
    * (α = 1 is proportional sampling, α → 0 uniform; 0.7 is the
    * conventional compromise that up-samples low-resource languages
    * without flattening the mix entirely). */
  val MixAlpha = 0.7

  /** Temperature-based language mixture: per language, the natural
    * token share and the α = 0.7 temperature-sampled share
    * (pᵢ = nᵢ^α / Σ nⱼ^α), plus the resulting boost factor — the
    * standard recipe for deciding how hard to up-sample low-resource
    * languages in a multilingual training mix (vs the fixed hand-set
    * percentages of [[corpusMixBudget]]).
    *
    * Determinism: n^α is a single pow on an exact integer — measured
    * bit-identical across the JVM, DuckDB and libm — then snapped to
    * DECIMAL(18,6) before the cross-language sum so the Σ nⱼ^α
    * denominator is partition-order independent. Shares and boosts are
    * single divides. One groupBy(lang) over the corpus; everything
    * after is proportional to |langs|. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMixOver(Tables.documents(spark, dir))

  private[graft] def temperatureMixOver(docs: DataFrame): DataFrame = {
    val d = docs.select(col("lang"), TextOps.estBpeTokens.as("toks"))
    val strata = d.groupBy("lang").agg(
        count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
      .withColumn("w", Det.dec6(pow(col("n_tokens").cast("double"), lit(MixAlpha))))
    val tot = strata.agg(
      sum("n_tokens").as("tok_tot"), sum("w").as("w_tot"))
    strata.crossJoin(broadcast(tot)).select(
        col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tok_tot").cast("double"))
          .as("natural_share"),
        (col("w").cast("double") / col("w_tot").cast("double"))
          .as("temp_share"))
      .withColumn("boost", col("temp_share") / col("natural_share"))
      .orderBy("lang")
  }

  lazy val temperatureMixSql: String = s"""
WITH d AS (SELECT lang, ${TextOps.estBpeTokensSqlE} AS toks FROM documents),
strata AS (
  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens
  FROM d GROUP BY lang),
w AS (
  SELECT *, CAST(pow(CAST(n_tokens AS DOUBLE), $MixAlpha) AS DECIMAL(18,6)) AS w
  FROM strata),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tok_tot, SUM(w) AS w_tot FROM w)
SELECT lang, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(tok_tot AS DOUBLE) AS natural_share,
       CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE) AS temp_share,
       (CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE))
         / (CAST(n_tokens AS DOUBLE) / CAST(tok_tot AS DOUBLE)) AS boost
FROM w CROSS JOIN tot
ORDER BY lang"""

  /** Per-source provenance accounting — the "which feed is dirty"
    * report a corpus team reads before weighting sources: per `source`,
    * document and exact-duplicate counts (md5 content identity, the
    * [[TextOps]] dedup convention), the duplicate rate, token mass and
    * token share. ONE aggregation pass (countDistinct over md5 plans as
    * the standard two-level distinct aggregate), totals broadcast
    * back. */
  def sourceAccounting(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      col("source"), md5(col("text")).as("h"), TextOps.estBpeTokens.as("toks"))
    val per = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct("h").as("n_unique"),
      sum("toks").as("n_tokens"))
    val tot = per.agg(sum("n_tokens").as("tok_tot"))
    per.crossJoin(broadcast(tot)).select(
        col("source"), col("n_docs"), col("n_unique"),
        ((col("n_docs") - col("n_unique")).cast("double")
          / col("n_docs").cast("double")).as("dup_rate"),
        col("n_tokens"),
        (col("n_tokens").cast("double") / col("tok_tot").cast("double"))
          .as("token_share"))
      .orderBy("source")
  }

  lazy val sourceAccountingSql: String = s"""
WITH d AS (SELECT source, md5(text) AS h, ${TextOps.estBpeTokensSqlE} AS toks FROM documents),
per AS (
  SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT h) AS n_unique,
         CAST(SUM(toks) AS BIGINT) AS n_tokens
  FROM d GROUP BY source),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tok_tot FROM per)
SELECT source, n_docs, n_unique,
       CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
       n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(tok_tot AS DOUBLE) AS token_share
FROM per CROSS JOIN tot
ORDER BY source"""

  // ------------------------------------------------ exact-cut budget

  /** Per-source budget as a percent of that source's token mass. */
  val TokenBudgetPct = 40L

  /** Exact-cut per-source token-budget downsampling — the precise
    * counterpart of [[corpusMixBudget]]'s in-expectation hash
    * threshold: docs are (conceptually) laid out per source in
    * md5-hash order and taken while the running token sum is inside
    * the budget, so the selected mass lands within ONE document of the
    * target instead of ±1/√n noise.
    *
    * The naive formulation needs a per-source TOTAL ORDER over the
    * corpus (the exact reason [[corpusMixBudget]] avoided exactness).
    * This one doesn't: the 48-bit doc hash is split into 4096 coarse
    * buckets, a BOUNDED per-(source,bucket) token histogram is
    * cumsum'd (≤4096 rows per source — window over a tiny frame), and
    * bucket arithmetic classifies every bucket as fully-inside
    * (selected with NO sort), fully-outside (dropped), or the single
    * straddling bucket per source — only its ~1/4096 of the stratum
    * gets a within-bucket total order. Same rank-selection trick as
    * the exact quantiles, applied to a weighted prefix-sum cut.
    * Selection is identical to the naive rule because the bucket id is
    * a prefix of the hash: coarse bucket order IS coarse hash order.
    *
    * Output is the per-source rollup with an id-checksum over the
    * selected docs, so the oracle (which runs the naive window form —
    * DuckDB is single-node, it can afford the total order) verifies
    * the selected SET, not just its size. */
  def tokenBudgetExact(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetExactOver(Tables.documents(spark, dir))

  /** Parameterized core over any (doc_id, source, text) frame. */
  private[graft] def tokenBudgetExactOver(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id").as("id"), col("source").as("stratum"),
      TextOps.estBpeTokens.as("w"))
    exactPrefixCutRollup(d, "tb:", TokenBudgetPct)
      .select(col("stratum").as("source"),
        col("stratum_w").as("stratum_tokens"), col("budget"),
        col("n_selected"), col("w_selected").as("selected_tokens"),
        col("id_checksum"))
      .orderBy("source")
  }

  /** Exact prefix cut WITHOUT a per-stratum total order — the shared
    * core of [[tokenBudgetExact]] and [[stratifiedSample]]: rows of
    * each stratum are (conceptually) laid out in salted-48-bit-md5-hash
    * order and kept while the running weight sum stays strictly inside
    * `(stratum_weight*pct) div 100`. The hash's top 12 bits address
    * 4096 coarse buckets; a BOUNDED per-(stratum,bucket) weight
    * histogram is cumsum'd (≤4096 rows per stratum — window over a
    * tiny frame), and bucket arithmetic classifies every bucket as
    * fully-inside (selected with NO sort), fully-outside (dropped), or
    * the single straddling bucket per stratum — only its ~1/4096 of
    * the stratum gets a within-bucket total order. Selection is
    * identical to the naive windowed rule because the bucket id is a
    * hash prefix: coarse bucket order IS coarse hash order.
    *
    * Boundary rule is strict `cum_before < budget` throughout: a
    * bucket landing exactly ON the budget routes through the straddle
    * window — with `<=` in fullIn a zero-weight row sitting at the
    * boundary (cum_before == budget) would be selected here but
    * excluded by the naive oracle form, and a zero-budget stratum
    * would select its zero-weight rows via 0+0 <= 0.
    *
    * Input columns (id, stratum, w); returns the per-stratum selection
    * ROLLUP (stratum, stratum_w, budget, n_selected, w_selected,
    * id_checksum) — strata that select nothing are absent, exactly as
    * the row-level form's empty group was.
    *
    * Both registered callers only ever AGGREGATED the selected rows
    * (count / Σw / Σid per stratum), and for a fully-inside bucket
    * those sums are derivable from the bucket histogram itself — so
    * the selected full-bucket ROWS never need to exist. The previous
    * row-level form planned 8 scans of the corpus (budgets, histogram
    * ×2 — the full-bucket and straddle broadcasts pruned its subtree
    * differently, defeating exchange reuse — and the fullIn/boundary
    * row joins, each re-tokenizing `w`); this form plans TWO: one
    * histogram pass whose single per-stratum aggregate carries the
    * full-bucket sums AND the straddle-bucket descriptor (budget and
    * running totals from one bounded window — partitions are ≤4096
    * histogram cells per stratum by construction), plus one boundary
    * pass that re-reads only to order the single straddling bucket
    * per stratum (~1/4096 of the data does work; the broadcast
    * semi-join drops the rest at the scan). Selection identical by
    * the bucket-prefix argument in the scaladoc above; all sums are
    * Long, so staged aggregation is exact. */
  private def exactPrefixCutRollup(rows: DataFrame, salt: String,
      pct: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = rows
      .withColumn("h", expr(
        s"cast(conv(substr(md5(concat('$salt', cast(id as string))), 1, 12), 16, 10) as bigint)"))
      .withColumn("bucket", expr("h div 68719476736")) // h >> 36 → 4096 cells
    val hist = d.groupBy("stratum", "bucket")
      .agg(sum("w").cast(LongType).as("bucket_w"),
        count(lit(1)).as("bucket_n"),
        sum("id").cast(LongType).as("bucket_ids"))
    val byStratum = Window.partitionBy("stratum")
    val wb = byStratum.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    // ≤4096 rows per stratum: the running and total sums are windows
    // over a BOUNDED histogram, not the corpus (cf. Dist for the
    // corpus-sized forms)
    val cum = hist
      .withColumn("cum_before_bucket", coalesce(sum("bucket_w").over(wb), lit(0L)))
      .withColumn("stratum_w", sum("bucket_w").over(byStratum))
      .withColumn("budget", expr(s"(stratum_w * $pct) div 100"))
    val isFull = col("cum_before_bucket") + col("bucket_w") < col("budget")
    val isStraddle = col("cum_before_bucket") < col("budget") && !isFull
    // ONE consumer of the histogram subtree: full-bucket sums and the
    // (≤1 per stratum) straddle descriptor from the same aggregate
    val rollup0 = cum.groupBy("stratum")
      .agg(
        max(col("stratum_w")).as("stratum_w"),
        max(col("budget")).as("budget"),
        sum(when(isFull, col("bucket_n")).otherwise(lit(0L))).as("full_n"),
        sum(when(isFull, col("bucket_w")).otherwise(lit(0L))).as("full_w"),
        sum(when(isFull, col("bucket_ids")).otherwise(lit(0L))).as("full_ids"),
        max(when(isStraddle, col("bucket"))).as("straddle_bucket"),
        max(when(isStraddle, col("cum_before_bucket"))).as("straddle_cum"))
    val straddle = rollup0.filter(col("straddle_bucket").isNotNull)
      .select(col("stratum"), col("straddle_bucket").as("bucket"),
        col("straddle_cum").as("cum_before_bucket"), col("budget"))
    val wd = Window.partitionBy("stratum", "bucket").orderBy("h", "id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = d.join(broadcast(straddle), Seq("stratum", "bucket"))
      .withColumn("cum_before",
        col("cum_before_bucket") + coalesce(sum("w").over(wd), lit(0L)))
      .filter(col("cum_before") < col("budget"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("b_n"),
        sum("w").cast(LongType).as("b_w"),
        sum("id").cast(LongType).as("b_ids"))
    rollup0.join(boundary, Seq("stratum"), "left")
      .select(col("stratum"), col("stratum_w"), col("budget"),
        (col("full_n") + coalesce(col("b_n"), lit(0L))).cast(LongType)
          .as("n_selected"),
        (col("full_w") + coalesce(col("b_w"), lit(0L))).cast(LongType)
          .as("w_selected"),
        (col("full_ids") + coalesce(col("b_ids"), lit(0L))).cast(LongType)
          .as("id_checksum"))
      .filter(col("n_selected") > 0)
  }

  lazy val tokenBudgetExactSql: String = s"""
WITH d AS (
  SELECT doc_id, source, ${TextOps.estBpeTokensSqlE} AS toks,
         CAST(('0x' || substr(md5('tb:' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT AS BIGINT) AS h
  FROM documents),
b AS (
  SELECT source, CAST(SUM(toks) AS BIGINT) AS stratum_tokens,
         (CAST(SUM(toks) AS BIGINT) * $TokenBudgetPct) // 100 AS budget
  FROM d GROUP BY source),
c AS (
  SELECT d.doc_id, d.source, d.toks, b.stratum_tokens, b.budget,
         COALESCE(SUM(d.toks) OVER (PARTITION BY d.source ORDER BY d.h, d.doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d JOIN b USING (source))
SELECT source, stratum_tokens, budget,
       COUNT(*) AS n_selected, CAST(SUM(toks) AS BIGINT) AS selected_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM c WHERE cum_before < budget
GROUP BY source, stratum_tokens, budget
ORDER BY source"""

  // -------------------------------------------------- dataset splits

  /** Holdout percents: train gets the rest. */
  val ValPct = 5L
  val TestPct = 5L

  /** Deterministic train/val/test assignment — the split every eval
    * pipeline needs to be REPRODUCIBLE and LEAKAGE-FREE: membership is
    * a pure function of doc_id (md5-derived bucket in [0,100)), so
    * re-runs, backfills and incremental appends land every document in
    * the same split forever, with no RNG state to persist. Rolled up
    * per (source, split) with an id-checksum so the oracle pins the
    * exact membership, not just the sizes. One aggregation, no
    * shuffle beyond it. */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextOps.estBpeTokens.as("toks"),
        expr("cast(conv(substr(md5(concat('split:', cast(doc_id as string))), 1, 12), 16, 10) as bigint) % 100")
          .as("bucket"))
      .withColumn("split",
        when(col("bucket") < TestPct, lit("test"))
          .when(col("bucket") < TestPct + ValPct, lit("val"))
          .otherwise(lit("train")))
    d.groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").cast(LongType).as("n_tokens"),
        sum("doc_id").cast(LongType).as("id_checksum"))
      .orderBy("source", "split")
  }

  lazy val datasetSplitSql: String = s"""
WITH d AS (
  SELECT doc_id, source, ${TextOps.estBpeTokensSqlE} AS toks,
         CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT AS BIGINT) % 100 AS bucket
  FROM documents)
SELECT source,
       CASE WHEN bucket < $TestPct THEN 'test'
            WHEN bucket < ${TestPct + ValPct} THEN 'val'
            ELSE 'train' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM d
GROUP BY source, split
ORDER BY source, split"""

  // ------------------------------------------- exact stratified sample

  /** Sample percent per stratum (language). */
  val SamplePct = 10L

  /** Exact stratified sampling — the precise counterpart of
    * [[graft.text.DedupClusters.stratifiedSample]]'s in-expectation
    * hash threshold (the same relationship [[tokenBudgetExact]] bears
    * to [[corpusMixBudget]]): EXACT per-stratum sizes (`(n_g*pct) div
    * 100` rows per language, never ±binomial noise) with reproducible,
    * append-stable membership (pure salted-hash function of doc_id —
    * the [[datasetSplit]] argument). It is [[exactPrefixCutOver]] with
    * weight 1: a count cut can't straddle mid-row, so the prefix cut
    * returns exactly the target count per stratum, selected in hash
    * order with only ~1/4096 of each stratum ever sorted. Output is
    * the per-language rollup with an id-checksum, so the oracle (the
    * naive per-stratum windowed form) pins the sampled SET, not just
    * its size. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSampleOver(Tables.documents(spark, dir))

  /** Parameterized core over any (doc_id, lang) frame. */
  private[graft] def stratifiedSampleOver(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id").as("id"), col("lang").as("stratum"),
      lit(1L).as("w"))
    exactPrefixCutRollup(d, "ss:", SamplePct)
      .select(col("stratum").as("lang"), col("stratum_w").as("stratum_docs"),
        col("budget").as("sample_target"),
        col("n_selected").as("n_sampled"), col("id_checksum"))
      .orderBy("lang")
  }

  lazy val stratifiedSampleSql: String = s"""
WITH d AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5('ss:' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT AS BIGINT) AS h
  FROM documents),
b AS (
  SELECT lang, COUNT(*) AS stratum_docs,
         (COUNT(*) * $SamplePct) // 100 AS sample_target
  FROM d GROUP BY lang),
c AS (
  SELECT d.doc_id, d.lang, b.stratum_docs, b.sample_target,
         COALESCE(COUNT(*) OVER (PARTITION BY d.lang ORDER BY d.h, d.doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d JOIN b USING (lang))
SELECT lang, stratum_docs, sample_target,
       COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM c WHERE cum_before < sample_target
GROUP BY lang, stratum_docs, sample_target
ORDER BY lang"""

  val ops: Seq[Op] = Seq(
    Op("dataset_split", datasetSplit, datasetSplitSql),
    Op("stratified_sample_exact", stratifiedSample, stratifiedSampleSql, Ext),
    Op("token_budget_exact", tokenBudgetExact, tokenBudgetExactSql, Ext),
    Op("source_accounting", sourceAccounting, sourceAccountingSql),
    Op("temperature_mix", temperatureMix, temperatureMixSql),
    Op("corpus_curation", corpusCuration, corpusCurationSql, Ext),
    Op("corpus_curated_docs", curatedDocs, curatedDocsSql),
    Op("corpus_published", publishedCorpus, publishedCorpusSql),
    Op("corpus_mix_budget", corpusMixBudget, corpusMixBudgetSql),
    Op("corpus_token_accounting", corpusTokenAccounting, corpusTokenAccountingSql))
}
