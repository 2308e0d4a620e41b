package graft.sim

/** The 1e-7 integer grid every vector op in `sim/` works on (see
  * [[Similarity]] for why it makes Spark and DuckDB agree bit for bit),
  * spelled once per engine. Defs only: the oracle vals of Similarity,
  * Ivf, Pq and Ivfpq interpolate one another, and an object with no
  * fields of its own cannot join their initialisation order. */
private[sim] object Grid {
  /** A quantized component, in Spark SQL. */
  def qz(x: String): String =
    s"cast(floor(cast($x as double) * 1e7) as bigint)"

  /** A quantized component and a quantized vector, in DuckDB. */
  def duckQz(x: String): String =
    s"CAST(floor(CAST($x AS DOUBLE) * 1e7) AS BIGINT)"
  def duckQe(v: String): String = s"list_transform($v, x -> ${duckQz("x")})"

  /** Exact L2² of two quantized vectors, in DuckDB. */
  def d2(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), j -> ($a[j] - $b[j]) * ($a[j] - $b[j])))"

  /** Cosine of two quantized vectors, in DuckDB: the IEEE tree of
    * [[graft.functions.QDot.cosine]]. */
  def cosine(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, len($a)), j -> $a[j] * $b[j])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform($a, x -> x * x)) AS DOUBLE))
          * sqrt(CAST(list_sum(list_transform($b, x -> x * x)) AS DOUBLE)))"""
}
