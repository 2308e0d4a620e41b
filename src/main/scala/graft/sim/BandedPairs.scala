package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded candidate-pair core shared by every signature-banding
  * near-dup family (MinHash-LSH, SimHash, pHash, SRP-LSH): explode each
  * row's signature into (band, bucket) keys, drop the cells holding more
  * than `bucketCap` rows, and self-join the rest on the cell. Callers
  * supply only the signature, its band keys and the score; the cap is
  * the guardrail that bounds the worst cell at cap² comparisons (a pair
  * is lost only when EVERY cell it shares is hot — such piles are
  * exact-dedup territory, not pairwise enumeration territory).
  *
  * Plan discipline: the signature is computed once per row, below ONE
  * round-robin exchange of narrow (id, sig) rows, and the hot-cell count
  * and the kept pair stream both read that exchange — the planner shows
  * the second read as `ReusedExchange`, so the source is scanned once
  * and its full rows never cross a shuffle. `hot` counts the id, not
  * lit(1): pruning the id off the count side would re-split the shared
  * exchange. The explicit id-not-null filter is a no-op on a key column
  * (and a null id could never pair: `a.id < b.id` drops it); it is made
  * explicit so both branches carry the same filter.
  *
  * [[candidateCtes]] is the DuckDB twin the oracles build on — written
  * as plain SQL, not derived from the Spark plan. */
object BandedPairs {

  /** One row per band key of each input row: the input columns plus
    * `band` (the key's position) and `bucket` (its value). */
  def banded(sigs: DataFrame, bandKeys: Column): DataFrame =
    sigs.select(col("*"), posexplode(bandKeys).as(Seq("band", "bucket")))

  /** The band rows of an (id, sig, ...) frame whose (band, bucket) cell
    * holds at most `bucketCap` rows. */
  def kept(sigs: DataFrame, id: String, bandKeys: Column, bucketCap: Int): DataFrame = {
    // repartition: a single-file input is one partition, and the (small)
    // broadcast build side would leave the whole pair stream to one task
    val rows = banded(sigs.filter(col(id).isNotNull)
      .repartition(sigs.sparkSession.sparkContext.defaultParallelism), bandKeys)
    val hot = rows.groupBy("band", "bucket")
      .agg(count(col(id)).as("df"))
      .filter(col("df") > bucketCap)
      .select("band", "bucket")
    rows.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
  }

  /** Capped self-join candidates of an (id, sig, ...) frame: one row per
    * (kept cell, a.id < b.id) with both sides' columns reachable as
    * `a.<col>` / `b.<col>`. A pair sharing several kept cells appears
    * once per cell; callers deduplicate after scoring. */
  def candidates(sigs: DataFrame, id: String, bandKeys: Column,
                 bucketCap: Int): DataFrame = {
    val k = kept(sigs, id, bandKeys, bucketCap)
    k.as("a").join(k.as("b"),
      col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col(s"a.$id") < col(s"b.$id"))
  }

  /** The five exact 12-bit blocks [0-11], [12-23], ..., [48-59] of a
    * non-negative 60-bit signature. */
  private def blocks60(sig: Column): Column =
    array((0 until 5).map(k => shiftright(sig, 12 * k).bitwiseAND(lit(4095L))): _*)

  /** (doc_a, doc_b, hamming) for every pair of a (doc_id, `sig`) frame
    * at Hamming distance ≤ 4 over the 60-bit `sig` — found EXACTLY via
    * pigeonhole banding (any pair differing in ≤ 4 bits agrees on at
    * least one of the five blocks), then the exact Hamming filter keeps
    * no false positives. Cells beyond `bucketCap` drop from candidate
    * generation. SimHash and pHash both run through here. */
  def hamming60Pairs(sigs: DataFrame, sig: String, bucketCap: Int): DataFrame =
    candidates(sigs.select(col("doc_id"), col(sig).as("sig")), "doc_id",
      blocks60(col("sig")), bucketCap)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      // null-tolerant on purpose: `hamming <= 4` alone would let the
      // planner infer isnotnull(sig) on the kept side only and push it
      // below the exchange, un-sharing it from the hot-cell count (a
      // second scan and a second signature evaluation). A null sig has
      // a null bucket and never reaches this join, so nothing changes.
      .filter(coalesce(col("hamming") <= 4, lit(false)))
      .dropDuplicates("doc_a", "doc_b")

  /** DuckDB `hot` / `kept` / `cand` CTEs over `banded`, a relation of
    * (`id`, band, bucket) rows: cells with more than `cap` rows dropped,
    * then `cand(<out>_a, <out>_b)` — the distinct kept pairs sharing a
    * cell, `<out>_a < <out>_b`. */
  def candidateCtes(banded: String, id: String, out: String, cap: Int): String = s"""
hot AS (SELECT band, bucket FROM $banded GROUP BY 1, 2 HAVING COUNT(*) > $cap),
kept AS (SELECT $id, band, bucket FROM $banded ANTI JOIN hot USING (band, bucket)),
cand AS (
  SELECT DISTINCT a.$id AS ${out}_a, b.$id AS ${out}_b
  FROM kept a JOIN kept b ON a.band = b.band AND a.bucket = b.bucket AND a.$id < b.$id)"""

  /** DuckDB twin of [[hamming60Pairs]]: CTEs to append after a `WITH`
    * list whose relation `sigRel` holds (doc_id, `sig`), then the final
    * SELECT. */
  def hamming60PairsSql(sigRel: String, sig: String, cap: Int): String = s"""
blocks AS (
  SELECT doc_id, b.band, ($sig >> (12 * b.band)) & 4095 AS bucket
  FROM $sigRel CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS band) b),${candidateCtes("blocks", "doc_id", "doc", cap)}
SELECT doc_a, doc_b, CAST(bit_count(xor(x.$sig, y.$sig)) AS BIGINT) AS hamming
FROM cand JOIN $sigRel x ON doc_a = x.doc_id JOIN $sigRel y ON doc_b = y.doc_id
WHERE bit_count(xor(x.$sig, y.$sig)) <= 4"""
}
