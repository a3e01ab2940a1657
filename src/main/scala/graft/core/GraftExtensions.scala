package graft.core

import org.apache.spark.sql.SparkSessionExtensions

/** The one declaration of the engine's SQL functions and of the
  * [[graft.functions.FuseCosine]] rule. [[GraftSession.builder]] installs it
  * (`withExtensions`), so every engine session and each of its
  * `newSession()` siblings has them; a session built elsewhere gets them
  * with
  *
  *   spark.sql.extensions=graft.core.GraftExtensions
  *
  * after which `SELECT vec_dot(a, b)`, `shingle_ids(text, 2)`,
  * `minhash_sig(ids, 16)`, `jaccard_ids(a, b)`, `shingle_strings(text, 2)`,
  * `intersect_size_ids(a, b)`, `vec_normalize(v)`, `simhash_md5(text)` and
  * `cosine_sim(a, b)` parse natively, and the Column API
  * ([[graft.functions.VectorFunctions]]) resolves.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import graft.functions._
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => VecDot(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => MinHashSignature(exprs.head,
        exprs(1).eval().asInstanceOf[Int])))
    ext.injectFunction((FunctionIdentifier("shingle_ids"),
      new ExpressionInfo(classOf[ShingleIds].getName, "shingle_ids"),
      (exprs: Seq[Expression]) => ShingleIds(exprs.head,
        exprs(1).eval().asInstanceOf[Int])))
    ext.injectFunction((FunctionIdentifier("jaccard_ids"),
      new ExpressionInfo(classOf[JaccardIds].getName, "jaccard_ids"),
      (exprs: Seq[Expression]) => JaccardIds(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("shingle_strings"),
      new ExpressionInfo(classOf[ShingleStrings].getName, "shingle_strings"),
      (exprs: Seq[Expression]) => ShingleStrings(exprs.head,
        exprs(1).eval().asInstanceOf[Int])))
    // the merge-scan precondition must live on the SQL surface too: a SQL
    // user calling this on unsorted arrays would get silent undercounts
    ext.injectFunction((FunctionIdentifier("intersect_size_ids"),
      new ExpressionInfo(classOf[IntersectSizeIds].getName, null,
        "intersect_size_ids",
        "intersect_size_ids(a, b) - Exact intersection size of two SORTED " +
          "array<bigint> columns via a two-pointer merge scan. Both arrays " +
          "MUST be sorted ascending (e.g. shingle_ids output); unsorted " +
          "input yields undercounts. A null element makes the result null.",
        "", "", "", "", "", "", ""),
      (exprs: Seq[Expression]) => IntersectSizeIds(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("vec_normalize"),
      new ExpressionInfo(classOf[VecNormalize].getName, "vec_normalize"),
      (exprs: Seq[Expression]) => VecNormalize(exprs.head)))
    ext.injectFunction((FunctionIdentifier("simhash_md5"),
      new ExpressionInfo(classOf[SimhashMd5].getName, "simhash_md5"),
      (exprs: Seq[Expression]) => SimhashMd5(exprs.head)))
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))))
    // fuse vec_dot(vec_normalize(a), vec_normalize(b)) -> cosine_sim(a, b):
    // bit-identical result, no per-row array allocations
    ext.injectOptimizerRule(_ => FuseCosine)
  }
}
