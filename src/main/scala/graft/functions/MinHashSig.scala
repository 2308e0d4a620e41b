package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression for the 16-permutation MinHash signature.
  *
  * Semantically identical to the higher-order-function formulation
  * (`transform(sequence(1,16), i -> array_min(transform(shingles, s ->
  * conv(substr(md5(concat(i,':',s)),1,14),16,10))))` — the DuckDB oracle
  * keeps verifying it), but computed in one compiled JVM call per row:
  * no per-element lambda interpretation, no hex-string round-trip (the
  * 56-bit value comes straight from the first 7 digest bytes), one
  * reused MessageDigest per thread.
  *
  * This is the "custom Expression where it pays" case from the design
  * brief: the built-ins CAN express the semantics, but interpret ~16×n
  * lambda frames and materialize ~32×n intermediate strings per
  * document; this runs the whole signature in tight bytecode.
  */
case class MinHashSig(child: Expression, perms: Int = 16)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires array<string>, got $other")
    }
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    new GenericArrayData(MinHashSig.compute(arr, perms))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.MinHashSig.compute($c, $perms));")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private val digests = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** First 7 md5 bytes of "<perm>:<shingle>" as a non-negative long —
    * identical to conv(substr(md5(...),1,14),16,10). */
  def compute(shingles: ArrayData, perms: Int): Array[Long] = {
    val md = digests.get()
    val n = shingles.numElements()
    // fail loudly on inputs the HOF twin would answer with NULL minima
    // (array_min over empty) — a Long.MaxValue sentinel would silently
    // diverge from the oracle form; callers pre-filter short docs (the
    // registered query requires >= 3 tokens)
    if (n == 0) throw new IllegalArgumentException(
      "minhash_sig requires a non-empty shingle array (the HOF form " +
        "yields NULL minima for empty input — pre-filter short documents)")
    val out = Array.fill(perms)(Long.MaxValue)
    var p = 0
    while (p < perms) {
      val prefix = s"${p + 1}:".getBytes(StandardCharsets.UTF_8)
      var i = 0
      var best = Long.MaxValue
      while (i < n) {
        val s = shingles.getUTF8String(i)
        if (s == null) throw new IllegalArgumentException(
          s"minhash_sig: null shingle at index $i")
        md.reset()
        md.update(prefix)
        md.update(s.getBytes)
        val d = md.digest()
        val h = ((d(0) & 0xffL) << 48) | ((d(1) & 0xffL) << 40) |
          ((d(2) & 0xffL) << 32) | ((d(3) & 0xffL) << 24) |
          ((d(4) & 0xffL) << 16) | ((d(5) & 0xffL) << 8) | (d(6) & 0xffL)
        if (h < best) best = h
        i += 1
      }
      out(p) = best
      p += 1
    }
    out
  }

  /** Column wrapper over a named input column. */
  def signatureOf(shinglesCol: String, perms: Int = 16): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      MinHashSig(org.apache.spark.sql.catalyst.analysis
        .UnresolvedAttribute(shinglesCol), perms))
}
