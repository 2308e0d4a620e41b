package graft.ext

import graft.{Det, Sql, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Second extension batch — operators a production training-data /
  * analytics pipeline needs that neither the reference nor the first
  * extension wave covered: PII scrubbing, corpus n-gram statistics,
  * JSON property extraction, ROLLUP subtotal aggregation, and the
  * approximate-distinct scale escape hatch (SURVEY §7.4).
  */
object Extensions {
  type Q = (SparkSession, String) => DataFrame

  /** PII scrubbing: redact emails, URLs and long digit runs (the id/phone
    * shape) via regexp passes — the standard pre-training scrub. Applied
    * to `customer` whose names carry 9-digit id runs, so the redaction
    * provably fires. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("c_name"), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
        "https?://[^\\s]+", "[URL]"),
      "[0-9]{6,}", "[ID]")
    Tables.customer(spark, dir).select(
      col("c_custkey").as("customer_id"),
      col("c_name").as("original"),
      scrubbed.as("scrubbed"),
      (length(col("c_name")) - length(scrubbed)).cast(LongType).as("chars_redacted"))
  }

  val piiScrubSql: String = """
SELECT c_custkey AS customer_id,
       c_name AS original,
       regexp_replace(regexp_replace(regexp_replace(c_name,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
         'https?://[^\s]+', '[URL]', 'g'),
         '[0-9]{6,}', '[ID]', 'g') AS scrubbed,
       CAST(length(c_name) - length(regexp_replace(regexp_replace(regexp_replace(c_name,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
         'https?://[^\s]+', '[URL]', 'g'),
         '[0-9]{6,}', '[ID]', 'g')) AS BIGINT) AS chars_redacted
FROM customer"""

  /** Word bigram OCCURRENCES of the document text — shared by the
    * exact frequency table and the heavy-hitter sketch, and built on
    * the shared whitespace tokenizer (a tokenization change must reach
    * the bigram table and the shingle operators together). The compiled
    * [[graft.functions.WordShingles]] pass with `dedup = false` — the
    * HOF `transform(sequence(...), i -> concat(...))` twin the oracle
    * mirrors is a CodegenFallback that interprets one lambda frame per
    * bigram and dominated the aggregate cost (measured ~2x the whole
    * query at sf0.1). */
  def bigramsCol: org.apache.spark.sql.Column =
    graft.functions.WordShingles.of(expr(graft.text.TextOps.toksE), 2, dedup = false)

  /** Corpus-wide top-50 word bigrams — the n-gram frequency table that
    * feeds tokenizer/contamination analyses. One explode + one groupBy:
    * map-side partial counts keep the shuffle at |distinct bigrams|. */
  def ngramFreq(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(explode(bigramsCol).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("occurrences"))
      .orderBy(desc("occurrences"), asc("bigram"))
      .limit(50)
  }

  /** DuckDB twin of [[bigramsCol]]: one `bg` row per bigram occurrence. */
  private val bigramCtes: String = s"""
WITH tok AS (SELECT ${graft.text.TextOps.toksSql} AS w FROM documents),
bg AS (SELECT unnest(${graft.text.TextOps.wordGramsSql(2)}) AS bigram FROM tok)"""

  val ngramFreqSql: String = s"""$bigramCtes
SELECT bigram, COUNT(*) AS occurrences
FROM bg GROUP BY bigram
ORDER BY occurrences DESC, bigram
LIMIT 50"""

  /** JSON property extraction over the events `props` column
    * (semi-structured payload → typed column → aggregation). */
  def propsExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum("k").as("k_sum"),
        (sum("k").cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("k_avg"))
      .orderBy("event_type")

  val propsExtractSql: String = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS k_avg
FROM events
GROUP BY event_type
ORDER BY event_type"""

  /** ROLLUP subtotals: revenue by (year, month) with month subtotals and
    * a grand total — the reporting shape the reference's agg tables
    * approximate by hand. Grouping-null keys are stringified so the
    * hierarchy level is explicit (and output stays DATE/DECIMAL-free). */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate").cast(DateType)).as("year"),
        month(col("o_orderdate").cast(DateType)).as("month"),
        col("o_totalprice"))
      .rollup("year", "month")
      .agg(
        count(lit(1)).as("n_orders"),
        Det.msum(col("o_totalprice")).as("total_amount"))
      .select(
        coalesce(col("year").cast(StringType), lit("ALL")).as("year"),
        coalesce(col("month").cast(StringType), lit("ALL")).as("month"),
        col("n_orders"), col("total_amount"))

  val rollupRevenueSql: String = s"""
SELECT coalesce(CAST(year AS VARCHAR), 'ALL') AS year,
       coalesce(CAST(month AS VARCHAR), 'ALL') AS month,
       COUNT(*) AS n_orders,
       ${Sql.msum("o_totalprice")} AS total_amount
FROM (SELECT year(CAST(o_orderdate AS DATE)) AS year,
             month(CAST(o_orderdate AS DATE)) AS month, o_totalprice
      FROM orders)
GROUP BY ROLLUP(year, month)"""

  /** The raw HLL surface — the scale escape hatch for the exact
    * countDistinct queries (SURVEY §7.4). Sketch VALUES are
    * engine-specific (DuckDB's HLL produces different estimates), so
    * this frame is not registered directly; [[approxMonthlyTransactions]]
    * wraps it in the oracle-checkable bound check, and ExtensionsSpec
    * additionally bounds its corpus-wide error. */
  def approxMonthlyTransactionsRaw(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.warehouse.Warehouse.fact(spark, dir)
    val d = graft.warehouse.Warehouse.dimDate(spark, dir).select("date_key", "year", "month")
    f.join(broadcast(d), "date_key")
      .groupBy("year", "month")
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx_transactions"))
      .orderBy("year", "month")
  }

  /** The REGISTERED sketch query — the HLL error contract made
    * oracle-checkable. The raw estimate can never hash-match a DuckDB
    * oracle, but the claim "the rsd=0.02 sketch lands within 10% (5σ)
    * of the exact per-group count" can: both aggregates run in the SAME
    * hash aggregation (one pass, two buffers per group), the check is
    * evaluated in-plan, and the oracle recomputes the exact side and
    * expects literal trues — a red row means the sketch broke its
    * contract. The estimate is deterministic for fixed data, so this is
    * a stable gate, not a flaky one. */
  def approxMonthlyTransactions(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.warehouse.Warehouse.fact(spark, dir)
    val d = graft.warehouse.Warehouse.dimDate(spark, dir).select("date_key", "year", "month")
    f.join(broadcast(d), "date_key")
      .groupBy("year", "month")
      .agg(
        countDistinct(col("l_orderkey")).as("n_transactions"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx"))
      .select(col("year"), col("month"), col("n_transactions"),
        (abs(col("approx").cast(DoubleType) - col("n_transactions").cast(DoubleType))
          <= col("n_transactions").cast(DoubleType) * lit(0.10))
          .as("approx_within_10pct"))
      .orderBy("year", "month")
  }

  val approxMonthlyTransactionsSql: String = graft.warehouse.OracleSql.q("""
SELECT d.year, d.month, COUNT(DISTINCT f.l_orderkey) AS n_transactions,
       TRUE AS approx_within_10pct
FROM fact f JOIN dim_date d ON f.date_key = d.date_key
GROUP BY d.year, d.month
ORDER BY d.year, d.month""")

  /** Sketch capacity / published-prefix size for the heavy-hitter
    * bigram query. k=64 counters bound the aggregate state at 64
    * entries per partial buffer regardless of corpus size; the top-20
    * exact prefix is what the contract is published over. */
  val HeavyHitterK = 64
  val HeavyHitterTop = 20

  /** Heavy-hitter bigrams via the mergeable Misra–Gries summary
    * ([[graft.functions.MisraGries]]) — the 100 TB path for n-gram
    * frequency accounting. [[ngramFreq]] (the exact twin) shuffles the
    * full distinct-bigram domain to count everything; at trillion-token
    * scale that domain is billions of keys, while the question asked is
    * "which handful of n-grams dominate". The sketch answers it in ONE
    * pass with 64-entry bounded state per partial buffer and a k-entry
    * final merge — no per-bigram shuffle at all.
    *
    * Registered with the same oracle discipline as the HLL/percentile
    * sketch ops: raw counter values are partitioning-dependent, but the
    * MG guarantee (`est <= true` and `true - est <= N/(k+1)`, est = 0
    * when absent) is provable for ANY partitioning and merge order, so
    * the published frame is the exact top-20 bigrams (deterministic)
    * with the in-plan-evaluated contract boolean the DuckDB oracle
    * expects to be literally TRUE. A red row means the sketch broke
    * mathematics, not that the corpus changed. */
  def heavyHitterNgrams(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(explode(bigramsCol).as("bigram"))
    val exact = bg.groupBy("bigram").agg(count(lit(1)).as("n_exact"))
    val total = exact.agg(sum("n_exact").as("n_total"))
    val sketch = bg
      .agg(graft.functions.MisraGries.of(col("bigram"), HeavyHitterK).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("bigram"), col("e.est").as("est"))
    val err = expr(s"n_total div ${HeavyHitterK + 1}")
    exact.orderBy(desc("n_exact"), asc("bigram")).limit(HeavyHitterTop)
      .join(broadcast(sketch), Seq("bigram"), "left")
      .crossJoin(broadcast(total))
      .select(col("bigram"), col("n_exact"),
        (coalesce(col("est"), lit(0L)) <= col("n_exact") &&
          col("n_exact") - coalesce(col("est"), lit(0L)) <= err)
          .as("sketch_contract_held"))
      .orderBy(desc("n_exact"), asc("bigram"))
  }

  val heavyHitterNgramsSql: String = s"""$bigramCtes
SELECT bigram, COUNT(*) AS n_exact, TRUE AS sketch_contract_held
FROM bg GROUP BY bigram
ORDER BY n_exact DESC, bigram
LIMIT $HeavyHitterTop"""

  // ---------------------------------------------------- fuzzy join

  /** Edit-distance-1 fuzzy self-join over the distinct part-name
    * vocabulary — the spell-variant/typo matcher of record-linkage
    * pipelines — via FastSS deletion-neighborhood blocking, never
    * all-pairs: each name emits itself plus its |name| single-deletion
    * variants as block keys, and any two names within edit distance 1
    * provably share a key (substitution at i → both deletion-i
    * variants are equal; insertion/deletion → the shorter name IS a
    * deletion variant of the longer). Candidates sharing a key are
    * then verified with `levenshtein` — false candidates filter out,
    * so blocking affects COST only, recall is exactly 1.
    *
    * THE ORACLE IS THE ALL-PAIRS FORM: DuckDB (single-node, can afford
    * the quadratic) joins every name against every name — so
    * hash-equality is a machine-checked proof that the O(n·L)
    * candidate generation misses nothing, not just that both engines
    * agree on the same shortcut.
    *
    * Scale posture: candidates = one equi-join on the block key
    * (shuffle bounded by n·(L+1) short keys); the quadratic blowup of
    * all-pairs never materializes. Vocabulary grain (distinct names),
    * not row grain. */
  def fuzzyNamePairs(spark: SparkSession, dir: String): DataFrame =
    fuzzyNamePairsOver(
      Tables.part(spark, dir).select(col("p_name").as("name")).distinct())

  /** Parameterized core over any single-column `name` frame. */
  private[graft] def fuzzyNamePairsOver(nm: DataFrame): DataFrame = {
    val keys = nm.select(col("name"), explode(concat(
      array(col("name")),
      expr("""transform(sequence(1, length(name)),
             |  i -> concat(substring(name, 1, i - 1),
             |              substring(name, i + 1, length(name))))""".stripMargin)
    )).as("k"))
    // distinct key-column names per side: a("k") === b("k") over two
    // derivations of the SAME frame resolves both sides to one column
    // object and logs a trivially-true-predicate warning on every run,
    // drowning real plan warnings (the join itself still disambiguates)
    val a = keys.toDF("name_a", "ka")
    val b = keys.toDF("name_b", "kb")
    a.join(b, col("ka") === col("kb") && col("name_a") < col("name_b"))
      .select("name_a", "name_b").distinct()
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast(LongType).as("dist"))
      .orderBy("name_a", "name_b")
  }

  val fuzzyNamePairsSql: String = """
WITH nm AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM nm a JOIN nm b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= 1
ORDER BY name_a, name_b"""

  val inventory: Map[String, Q] = Map(
    "fuzzy_name_pairs"     -> (fuzzyNamePairs _),
    "pii_scrub"            -> (piiScrub _),
    "text_ngram_freq"      -> (ngramFreq _),
    "events_props_extract" -> (propsExtract _),
    "rollup_revenue"       -> (rollupRevenue _),
    "approx_monthly_transactions" -> (approxMonthlyTransactions _),
    "heavy_hitter_ngrams"  -> (heavyHitterNgrams _))

  val oracle: Map[String, String] = Map(
    "fuzzy_name_pairs"     -> fuzzyNamePairsSql,
    "pii_scrub"            -> piiScrubSql,
    "text_ngram_freq"      -> ngramFreqSql,
    "events_props_extract" -> propsExtractSql,
    "rollup_revenue"       -> rollupRevenueSql,
    "approx_monthly_transactions" -> approxMonthlyTransactionsSql,
    "heavy_hitter_ngrams"  -> heavyHitterNgramsSql)
}
