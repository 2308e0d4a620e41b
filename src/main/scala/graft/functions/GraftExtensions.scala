package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions injection point: registers graft's custom
  * expressions into the SQL function registry, so `minhash_sig(arr)` is
  * callable from `spark.sql(...)` exactly like a built-in.
  *
  * Usage: `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.minhashSigFunction)
    ext.injectFunction(GraftExtensions.qdotFunction)
    ext.injectFunction(GraftExtensions.topkByFunction)
    ext.injectFunction(GraftExtensions.simhashSigFunction)
    ext.injectFunction(GraftExtensions.srpSigFunction)
    ext.injectFunction(GraftExtensions.wordShinglesFunction)
    ext.injectFunction(GraftExtensions.textStatsSigFunction)
    ext.injectFunction(GraftExtensions.winnowFpFunction)
    ext.injectFunction(GraftExtensions.misraGriesFunction)
    ext.injectFunction(GraftExtensions.nfcNormalizeFunction)
  }
}

object GraftExtensions {
  val minhashSigFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
    (children: Seq[Expression]) => children match {
      case Seq(arr) => MinHashSig(arr)
      case Seq(arr, perms) => MinHashSig(arr,
        intLiteral(perms, "minhash_sig perms"))
      case _ => throw new IllegalArgumentException(
        "minhash_sig(array<string>[, perms]) takes 1 or 2 arguments")
    })

  val qdotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("qdot"),
    new ExpressionInfo(classOf[QDot].getName, "qdot"),
    (children: Seq[Expression]) => children match {
      case Seq(a, b) => QDot(a, b)
      case _ => throw new IllegalArgumentException(
        "qdot(array<float>, array<float>) takes 2 arguments")
    })

  /** Evaluate an argument that must be an integer literal (k, planes,
    * perms), with a clean error instead of an unbound-attribute crash
    * for column references or a ClassCastException for strings. */
  private def intLiteral(e: Expression, what: String): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be an integer literal, got non-constant expression ${e.sql}")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  val topkByFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("topk_by"),
    new ExpressionInfo(classOf[TopKBy].getName, "topk_by"),
    (children: Seq[Expression]) => children match {
      case Seq(v, t, k) => TopKBy(v, t, intLiteral(k, "topk_by k"))
      case _ => throw new IllegalArgumentException(
        "topk_by(value double, tag bigint, k int) takes 3 arguments")
    })

  val simhashSigFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash_sig"),
    new ExpressionInfo(classOf[SimHashSig].getName, "simhash_sig"),
    (children: Seq[Expression]) => children match {
      case Seq(toks) => SimHashSig(toks)
      case _ => throw new IllegalArgumentException(
        "simhash_sig(array<string>) takes 1 argument")
    })

  val srpSigFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("srp_sig"),
    new ExpressionInfo(classOf[SrpSig].getName, "srp_sig"),
    (children: Seq[Expression]) => children match {
      case Seq(emb) => SrpSig(emb)
      case Seq(emb, planes) => SrpSig(emb,
        intLiteral(planes, "srp_sig planes"))
      case _ => throw new IllegalArgumentException(
        "srp_sig(array<float>[, planes]) takes 1 or 2 arguments")
    })

  val wordShinglesFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("word_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
    (children: Seq[Expression]) => children match {
      case Seq(toks) => WordShingles(toks)
      case Seq(toks, n) => WordShingles(toks, intLiteral(n, "word_shingles n"))
      case _ => throw new IllegalArgumentException(
        "word_shingles(array<string>[, n]) takes 1 or 2 arguments")
    })

  val winnowFpFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("winnow_fp"),
    new ExpressionInfo(classOf[WinnowFp].getName, "winnow_fp"),
    (children: Seq[Expression]) => children match {
      case Seq(text) => WinnowFp(text)
      case Seq(text, k, w) => WinnowFp(text,
        intLiteral(k, "winnow_fp k"), intLiteral(w, "winnow_fp w"))
      case _ => throw new IllegalArgumentException(
        "winnow_fp(text string[, k int, w int]) takes 1 or 3 arguments")
    })

  val textStatsSigFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("text_stats_sig"),
    new ExpressionInfo(classOf[TextStatsSig].getName, "text_stats_sig"),
    (children: Seq[Expression]) => children match {
      case Seq(text) => TextStatsSig(text)
      case _ => throw new IllegalArgumentException(
        "text_stats_sig(text string) takes 1 argument")
    })

  val misraGriesFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("misra_gries"),
    new ExpressionInfo(classOf[MisraGries].getName, "misra_gries"),
    (children: Seq[Expression]) => children match {
      case Seq(item, k) => MisraGries(item, intLiteral(k, "misra_gries k"))
      case _ => throw new IllegalArgumentException(
        "misra_gries(item string, k int) takes 2 arguments")
    })

  val nfcNormalizeFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("nfc_normalize"),
    new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
    (children: Seq[Expression]) => children match {
      case Seq(s) => NfcNormalize(s)
      case _ => throw new IllegalArgumentException(
        "nfc_normalize(s string) takes 1 argument")
    })

  /** Register on an already-running session (tests, shells). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Seq(minhashSigFunction, qdotFunction, topkByFunction, simhashSigFunction,
      srpSigFunction, wordShinglesFunction, textStatsSigFunction,
      winnowFpFunction, misraGriesFunction, nfcNormalizeFunction).foreach {
      case (id, info, builder) =>
        org.apache.spark.sql.GraftColumnBridge.registerFunction(spark, id, info, builder)
    }
}
