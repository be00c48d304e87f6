package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{CharEntropyMicro, DotLong, DotProduct, L2Normalize, LshBucket, MinHashSig, PortableStrHash, QuantizeInt8, SeqFold, ShingleSet, SimHash64, TextStats, WinnowFingerprints}

/** Registers the graft kernel expressions as SQL functions, so
  * `spark.sql("SELECT vec_dot(a, b) …")` works next to the Column API.
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.GraftExtensions` at session build
  *    (the standard Spark extension mechanism), or
  *  - [[GraftFunctions.register]] on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.FindbAsOfRangeStrategy)
    ext.injectOptimizerRule(_ => graft.plans.DeriveMonthPartitionFilter)
  }
}

object GraftFunctions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(s"graft.expressions", name)

  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval().asInstanceOf[Number].intValue
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two array<double>"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))),
    (FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(text, k, n) - n-hash MinHash signature over k-char shingles"),
      (children: Seq[Expression]) =>
        MinHashSig(children(0), intArg(children(1), "k"), intArg(children(2), "numHashes"))),
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(text) - 64-bit SimHash of the whitespace token multiset"),
      (children: Seq[Expression]) => SimHash64(children(0))),
    (FunctionIdentifier("l2_normalize"),
      info("l2_normalize", "l2_normalize(v) - unit-normalize an array<double>; NULL for zero vectors"),
      (children: Seq[Expression]) => L2Normalize(children(0))),
    (FunctionIdentifier("shingle_set"),
      info("shingle_set", "shingle_set(text, k) - distinct k-char shingles as array<string>"),
      (children: Seq[Expression]) => ShingleSet(children(0), intArg(children(1), "k"))),
    (FunctionIdentifier("lsh_bucket"),
      info("lsh_bucket", "lsh_bucket(v, planes) - random-hyperplane LSH sign bits packed in a long"),
      (children: Seq[Expression]) => LshBucket(children(0), intArg(children(1), "planes"))),
    (FunctionIdentifier("text_stats"),
      info("text_stats", "text_stats(text) - struct(len, n_punct, quality, lang_guess) in one pass"),
      (children: Seq[Expression]) => TextStats(children(0))),
    (FunctionIdentifier("portable_str_hash"),
      info("portable_str_hash", "portable_str_hash(s) - polynomial hash mod 2^31-1 (engine-portable)"),
      (children: Seq[Expression]) => PortableStrHash(children(0))),
    (FunctionIdentifier("winnow_fp"),
      info("winnow_fp", "winnow_fp(text, k, w) - winnowing fingerprints (min k-gram hash per w-window)"),
      (children: Seq[Expression]) =>
        WinnowFingerprints(children(0), intArg(children(1), "k"), intArg(children(2), "w"))),
    (FunctionIdentifier("char_entropy_micro"),
      info("char_entropy_micro", "char_entropy_micro(s) - code-point Shannon entropy in micro-nats (NULL for '')"),
      (children: Seq[Expression]) => CharEntropyMicro(children(0))),
    (FunctionIdentifier("quantize_int8"),
      info("quantize_int8", "quantize_int8(v) - symmetric int8 codes of an array<double> (max-abs scale)"),
      (children: Seq[Expression]) => QuantizeInt8(children(0))),
    (FunctionIdentifier("vec_dot_long"),
      info("vec_dot_long", "vec_dot_long(a, b) - integer dot product of two array<long>"),
      (children: Seq[Expression]) => DotLong(children(0), children(1))),
    (FunctionIdentifier("seq_fold"),
      info("seq_fold", "seq_fold(arr, op, weight) - compiled sequential left fold (sum/sumsq/horner/...)"),
      (children: Seq[Expression]) => {
        require(children(1).foldable, "op must be a literal string")
        val op = children(1).eval().toString
        val w = if (children.size > 2) {
          require(children(2).foldable, "weight must be a literal")
          children(2).eval().asInstanceOf[Number].doubleValue
        } else 0.0
        SeqFold(children(0), op, w)
      }))

  /** Register on a live session (same registry `injectFunction` feeds). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (ident, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, inf, builder)
    }
}
