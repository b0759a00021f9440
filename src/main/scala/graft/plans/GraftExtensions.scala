package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.catalyst.expressions.Literal

import graft.functions.{CosineSimilarity, HyperplaneBuckets,
  MinHashSignature, ShingleHashes, SimHash64, SortedIntersectCount}

/** Session extensions: registers the engine's native functions for SQL use
  * (`SELECT cosine_similarity(a, b) ...`, `simhash64(tokens)`,
  * `shingle_hashes(s, k[, distinct])`, `hyperplane_buckets(v)`), the
  * [[TopKRewriteRule]] optimizer rule (row_number-filter → sort-free
  * [[TopKPerKey]]), and the [[TopKStrategy]] planner strategy that plans
  * it. [[graft.Session]] installs them; a session built elsewhere
  * activates them with `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def boolLit(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => TopKRewriteRule)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName,
        "cosine_similarity"),
      (exprs: Seq[Expression]) =>
        CosineSimilarity(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (exprs: Seq[Expression]) => ShingleHashes(
        exprs.head,
        intLit(exprs(1), "shingle_hashes k"),
        if (exprs.length > 2) boolLit(exprs(2), "shingle_hashes distinct")
        else false)))
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_buckets"),
      new ExpressionInfo(classOf[HyperplaneBuckets].getName,
        "hyperplane_buckets"),
      (exprs: Seq[Expression]) => HyperplaneBuckets(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName,
        "minhash_signature"),
      (exprs: Seq[Expression]) => MinHashSignature(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (exprs: Seq[Expression]) =>
        SortedIntersectCount(exprs.head, exprs(1))))
  }
}
