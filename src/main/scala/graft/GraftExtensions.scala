package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{CosineSimilarity, JaroWinkler, SortedIntersectCount, TokenWindows, ZInterleave}

/** Session-extension entry point for the engine: installs the custom
  * Catalyst functions into any session built with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or via
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * This is the supported integration path for SQL users of the engine;
  * programmatic callers can equivalently use
  * [[graft.functions.CosineSimilarity.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(
        classOf[CosineSimilarity].getCanonicalName,
        null,
        "cosine_similarity",
        "cosine_similarity(a, b) - cosine similarity of two float vectors in double precision",
        ""),
      exprs => {
        require(exprs.length == 2,
          s"cosine_similarity(a, b) takes exactly 2 arguments, got ${exprs.length}")
        CosineSimilarity(exprs.head, exprs(1))
      }))
    e.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(
        classOf[SortedIntersectCount].getCanonicalName,
        null,
        "sorted_intersect_count",
        "sorted_intersect_count(a, b) - intersection size of two sorted bigint arrays",
        ""),
      exprs => {
        require(exprs.length == 2,
          s"sorted_intersect_count(a, b) takes exactly 2 arguments, got ${exprs.length}")
        SortedIntersectCount(exprs.head, exprs(1))
      }))
    e.injectFunction((
      FunctionIdentifier("z_interleave16"),
      new ExpressionInfo(
        classOf[ZInterleave].getCanonicalName,
        null,
        "z_interleave16",
        "z_interleave16(a, b) - Morton interleave of the low 16 bits of two bigints",
        ""),
      exprs => {
        require(exprs.length == 2,
          s"z_interleave16(a, b) takes exactly 2 arguments, got ${exprs.length}")
        ZInterleave(exprs.head, exprs(1))
      }))
    e.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(
        classOf[JaroWinkler].getCanonicalName,
        null,
        "jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler string similarity in [0, 1]",
        ""),
      exprs => {
        require(exprs.length == 2,
          s"jaro_winkler(a, b) takes exactly 2 arguments, got ${exprs.length}")
        JaroWinkler(exprs.head, exprs(1))
      }))
    e.injectFunction((
      FunctionIdentifier(TokenWindows.Name),
      new ExpressionInfo(
        classOf[TokenWindows].getCanonicalName,
        null,
        TokenWindows.Name,
        "token_windows(tokens, width, hashed) - every width-token window of a string " +
          "array, space-joined, or its md5 hex when hashed",
        ""),
      exprs => {
        require(exprs.length == 3,
          s"token_windows(tokens, width, hashed) takes exactly 3 arguments, got ${exprs.length}")
        TokenWindows(exprs.head, exprs(1), exprs(2))
      }))
    e.injectOptimizerRule(_ => graft.plans.RewriteSortedIntersect)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
