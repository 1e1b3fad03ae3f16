package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions so `spark.sql("... cosine_similarity(a,b)
  * ...")` works anywhere — pure-SQL users get the codegen'd hot path with
  * no Scala import.
  *
  * Wire up with:
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)   // or
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rules:
    //  - constant-width interval joins become bucketed equi-joins instead
    //    of BroadcastNestedLoop (see RangeJoinRewrite);
    //  - a count, a union or an equi-key anti/semi join over driver-local
    //    relations is evaluated on the driver, like Spark's own
    //    ConvertToLocalRelation does for Project/Filter/Limit; a count
    //    also folds over graft table scans whose files total at most
    //    GraftCatalog.LocalFilesTableBytes (1,000 KiB), their rows read
    //    and counted there through the reader a scan task would use. No
    //    job for a metadata-scale plan such as the orphan-GC diff, a
    //    `_system` view's count or a small routed read's count (see
    //    FoldLocalRelations)
    ext.injectOptimizerRule(graft.plans.RangeJoinRewrite(_))
    ext.injectOptimizerRule(_ => graft.plans.FoldLocalRelations)
    // planner strategy: AsOfJoinNode → physical sort-merge as-of join
    // (see plans/AsOfJoinPlan.scala)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // persistent views on graft catalogs: Spark 4.1 ships the DSv2
    // ViewCatalog interface UNWIRED (no analyzer rule consults it), so
    // graft wires it here — parser post-processor for view DDL, and a
    // resolution rule expanding reads through stored definitions
    // (see catalog/GraftViewSupport.scala)
    ext.injectParser((_, delegate) =>
      new graft.catalog.GraftViewSqlParser(delegate))
    ext.injectResolutionRule(graft.catalog.GraftViewSubstitution(_))
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "cosine_similarity(a, b) takes 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "dot_product(a, b) takes 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaccard_similarity"),
      new ExpressionInfo(classOf[JaccardSimilarity].getName, "jaccard_similarity"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "jaccard_similarity(a, b) takes 2 arguments")
        JaccardSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_long_jaccard"),
      new ExpressionInfo(classOf[SortedLongJaccard].getName, "sorted_long_jaccard"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "sorted_long_jaccard(a, b) takes 2 arguments")
        SortedLongJaccard(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("zorder2"),
      new ExpressionInfo(classOf[ZOrder2].getName, "zorder2"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "zorder2(a, b) takes 2 arguments")
        ZOrder2(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "minhash_signature(shingles, numHashes) takes 2 arguments")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"numHashes must be an integer literal, got $other")
        }
        MinHashSignature(children.head, n)
      }))
  }
}
