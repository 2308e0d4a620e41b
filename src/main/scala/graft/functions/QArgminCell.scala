package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Native Catalyst expression for nearest-cell assignment: the `rank`-th
  * smallest of k grid-quantized centroids under the exact integer L2²
  * distance with the (distance, cid) tie-break — the d-then-cid struct
  * ordering of the HOF form ([[graft.sim.Ivf.assign]]'s previous
  * `array_min` over `transform(sequence(...))`), as one tight JVM loop
  * per row. Rank 1 is the IVF cell (the argmin); rank 2 is the
  * runner-up that multi-probe dedup blocking adds
  * ([[graft.sim.Similarity.multiProbeAssignments]] — the dedup twin of
  * IVF search's nprobe > 1), exactly the `rn = 2` row of the oracle's
  * `ROW_NUMBER() OVER (ORDER BY d2, cell)` replay.
  *
  * Why native: the HOF formulation evaluates interpreted — per row it
  * allocates a zipped array and ~2·dim boxed lambda frames PER CANDIDATE,
  * and the Lloyd loop runs it over the whole collection every iteration
  * plus once for the final assignment. Measured at sf0.1 (2k vectors ×
  * k=16 × 64 dims × 4 passes) the interpreted argmin dominated the whole
  * `ivf_search` query. Here the embedding quantizes ONCE into a primitive
  * array and the k·dim loop is branch-free arithmetic; the centroid
  * matrix rides along as a codegen reference object, not k expression
  * subtrees, so per-iteration Janino recompiles (fresh centroids each
  * iteration) stay small.
  *
  * Determinism: identical arithmetic to the HOF form — float→double
  * widening, ×1e7, floor, integer diffs/squares/sums (associative), and
  * the same lowest-cid-on-equal-distance tie-break the DuckDB oracle
  * mirrors with `ORDER BY d2, cell`. Magnitudes: |q| < 1e7 → diff <
  * 2e7, squares < 4e14, ×64 dims < 3e16 — no 64-bit overflow.
  *
  * Null handling: `nullIntolerant` (null embedding → null out; the
  * caller's `when`/`coalesce` routes those rows to cell -1 and keeps the
  * output schema non-nullable). Null COMPONENTS are refused loudly,
  * matching [[QDot]]'s posture — a primitive-long loop cannot represent
  * them and silently skipping would diverge from the oracle untraceably.
  * Rank 2 needs ≥ 2 centroids (a 1-cell quantizer has no runner-up).
  */
case class QArgminCell(child: Expression,
                       centroids: Array[Array[Long]],
                       cids: Array[Int],
                       rank: Int) extends UnaryExpression {
  require(rank == 1 || rank == 2, s"rank must be 1 or 2, got $rank")
  require(centroids.length >= rank && centroids.length == cids.length,
    s"need >= $rank centroids and one cid per centroid, got ${centroids.length} centroids / ${cids.length} cids")

  override def dataType: DataType = IntegerType

  /** Plans print the rank in the name, not as a fourth argument. */
  override def prettyName: String = if (rank == 1) "qargmincell" else "qrunnerupcell"
  override def flatArguments: Iterator[Any] = Iterator(child, centroids, cids)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got $other")
  }

  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(e: Any): Any =
    QArgminCell.compute(e.asInstanceOf[ArrayData], centroids, cids, rank)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "long[][]")
    val idRef = ctx.addReferenceObj("cids", cids, "int[]")
    nullSafeCodeGen(ctx, ev, e =>
      s"${ev.value} = graft.functions.QArgminCell.compute($e, $cRef, $idRef, $rank);")
  }

  override protected def withNewChildInternal(newChild: Expression): QArgminCell =
    copy(child = newChild)
}

object QArgminCell {
  /** The cid of the `rank`-th nearest centroid (1 or 2). Tracks the two
    * smallest (d, cid) pairs under one total order, so rank 2 is never
    * the argmin itself. */
  def compute(e: ArrayData, cs: Array[Array[Long]], cids: Array[Int], rank: Int): Int = {
    val n = e.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (e.isNullAt(i)) throw new IllegalArgumentException(
        s"qargmin_cell requires non-null components, found null at index $i")
      q(i) = math.floor(e.getFloat(i).toDouble * 1e7).toLong
      i += 1
    }
    var bestD = Long.MaxValue
    var bestCid = Int.MaxValue
    var secD = Long.MaxValue
    var secCid = Int.MaxValue
    var c = 0
    while (c < cs.length) {
      val cent = cs(c)
      if (cent.length != n) throw new IllegalArgumentException(
        s"qargmin_cell centroid $c has ${cent.length} dims, vector has $n")
      var d = 0L
      var j = 0
      while (j < n) {
        val diff = q(j) - cent(j)
        d += diff * diff
        j += 1
      }
      val cid = cids(c)
      if (d < bestD || (d == bestD && cid < bestCid)) {
        secD = bestD; secCid = bestCid
        bestD = d; bestCid = cid
      } else if (d < secD || (d == secD && cid < secCid)) {
        secD = d; secCid = cid
      }
      c += 1
    }
    if (rank == 1) bestCid else secCid
  }

  /** Column wrapper: the `rank`-th nearest cell id for `embCol` against
    * driver-side (cid, grid-point centroid) pairs. */
  def of(embCol: String, centroids: Array[(Int, Array[Long])], rank: Int = 1): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      QArgminCell(UnresolvedAttribute(embCol),
        centroids.map(_._2), centroids.map(_._1), rank))
}
