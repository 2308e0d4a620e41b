package graft.sim

import graft.{Op, Tables}
import graft.Op.{Eval, Ext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ — the composite index every production vector store actually
  * ships (the FAISS `IVFx,PQy` shape): the [[Ivf]] coarse quantizer
  * prunes the CANDIDATE SET (only `nprobe` of 16 cells are scanned),
  * and [[Pq]] codes replace the raw vectors inside the scan (8-byte
  * ADC lookups instead of 64-float arithmetic). IVF bounds how much of
  * the collection a query touches; PQ bounds the bytes per touched
  * row; together a 100 TB corpus serves from RAM at nprobe/k · 1/32 of
  * the naive scan cost.
  *
  * Both building blocks are already independently oracle-green; this
  * operator verifies their COMPOSITION — the oracle nests the full IVF
  * Lloyd replay and the (pq-prefixed) PQ codebook replay in one WITH
  * clause and reproduces the search bit-for-bit, which is only
  * possible because both stay on the 1e-7 integer grid with total
  * tie-break orders.
  *
  * Scale posture: candidate pruning is the [[Ivf.search]] plan (probe
  * via broadcast centroids, equality-join inverted lists); the ADC
  * stage joins the pruned candidates to their codes (co-keyed on
  * vec_id) and to the broadcast distance table — cost is
  * |candidates|·M lookup rows, never |collection|. */
object Ivfpq {
  /** Serve-path search: BOTH composed indexes load from the store
    * ([[Ivf.index]], [[Pq.index]]) — first touch builds and persists;
    * every later query pays only the probe + ADC joins. */
  def search(spark: SparkSession, dir: String): DataFrame = {
    val idx = Ivf.index(spark, dir)
    val pq = Pq.index(spark, dir)
    // coarse probe: nprobe nearest cells per query (the Ivf.search plan)
    val candidates = Ivf.probe(spark, dir, idx.centroids, Ivf.NProbe, Ivf.NQueries)
      .join(idx.assignments.select("vec_id", "cell"), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    // ADC over the pruned candidates only
    val dtab = Pq.distanceTable(Tables.embeddings(spark, dir), pq.codebook)
    Pq.adcTopK(candidates.join(pq.codes, "vec_id")
      .join(broadcast(dtab), Seq("query_id", "sub", "code")), Pq.TopK)
  }

  /** Recall@k of IVF-PQ against the exact integer-grid L2 top-k: BOTH
    * approximations (cell pruning + code quantization) priced in one
    * measured number. */
  def recallVsExact(spark: SparkSession, dir: String): DataFrame =
    Ivf.recallAtK(Pq.exactTopK(spark, dir), search(spark, dir), Pq.TopK)

  // ------------------------------------------------------------- oracle

  /** Both replays in one WITH clause: the IVF CTEs own `q`/`afin`, the
    * PQ CTEs are pq-prefixed, and the composite CTEs stitch them. */
  private val commonCtes: String = s"""${Ivf.ivfCommonCtes},
${Pq.pqCtes("pq")},
${Ivf.probesCte},
icand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN afin a ON p.cell = a.cell AND a.vec_id <> p.query_id),
iadc AS (
  SELECT c.query_id, c.vec_id, CAST(SUM(d.pd2) AS BIGINT) AS approx_d2
  FROM icand c
  JOIN pqcodes k ON c.vec_id = k.vec_id
  JOIN pqdtab d ON d.query_id = c.query_id AND d.sub = k.sub AND d.code = k.code
  GROUP BY c.query_id, c.vec_id),
iranked AS (
  SELECT query_id, vec_id, approx_d2,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY approx_d2, vec_id) AS INT) AS rank
  FROM iadc)"""

  val searchSql: String = s"""
WITH $commonCtes
SELECT query_id, vec_id, approx_d2, rank FROM iranked WHERE rank <= ${Pq.TopK}"""

  val recallSql: String = s"""
WITH $commonCtes,
itop AS (SELECT query_id, vec_id FROM iranked WHERE rank <= ${Pq.TopK}),
${Pq.exactCte}
${Ivf.recallSql("exact", "itop", Pq.TopK)}"""

  val ops: Seq[Op] = Seq(
    Op("ivfpq_search", search, searchSql, Ext),
    // eval: recall re-runs the brute-force exact baseline
    Op("ivfpq_recall", recallVsExact, recallSql, Eval))
}
