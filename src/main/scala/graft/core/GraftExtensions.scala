package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.IntegerType

import graft.functions.{CollisionCountExpr, MinHashSigExpr, PolyHashExpr, PosShingleHashesExpr, RandomProjectExpr, ShingleHashesExpr, SimHashExpr, SortedIntersectSizeExpr, VecDotExpr, VecSignExpr, WinnowExpr}

/** SparkSessionExtensions hook: registers the engine's native expressions
  * with the SQL function registry, so `spark.sql("... poly_hash(col) ...")`
  * resolves to the codegen'd Catalyst expression — the (c) integration path
  * of SURVEY §4.3 for operators Spark lacks.
  *
  * Activate with `.withExtensions(new GraftExtensions)` (GraftSession does)
  * or `spark.sql.extensions=graft.core.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Constant INT argument of a registered function: accepts any FOLDABLE
    * integer expression (literal, 1+2, casts of constants), and fails with
    * the standard non-foldable-argument AnalysisException — carrying the
    * function and parameter names — instead of a raw RuntimeException.
    */
  private def intArg(fn: String, param: String, e: Expression): Int = e match {
    case e if e.foldable && e.dataType == IntegerType =>
      e.eval() match {
        case i: java.lang.Integer => i.intValue
        case _                    => throw ColumnBridge.nonFoldableArgumentError(fn, param, IntegerType)
      }
    case _ => throw ColumnBridge.nonFoldableArgumentError(fn, param, IntegerType)
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHashExpr].getName, "poly_hash"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "poly_hash takes exactly one argument")
        PolyHashExpr(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDotExpr].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "vec_dot takes exactly two arguments")
        VecDotExpr(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashesExpr].getName, "shingle_hashes"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "shingle_hashes takes (text, n)")
        ShingleHashesExpr(children.head, intArg("shingle_hashes", "n", children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "minhash_sig takes (hashes, k)")
        MinHashSigExpr(children.head, intArg("minhash_sig", "k", children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash_bits"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "simhash_bits"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "simhash_bits takes (hashes, bits)")
        SimHashExpr(children.head, intArg("simhash_bits", "bits", children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("collision_count"),
      new ExpressionInfo(classOf[CollisionCountExpr].getName, "collision_count"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "collision_count takes exactly one argument")
        CollisionCountExpr(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowExpr].getName, "winnow_fps"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "winnow_fps takes (text, k, w)")
        WinnowExpr(
          children.head,
          intArg("winnow_fps", "k", children(1)),
          intArg("winnow_fps", "w", children(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_pos_hashes"),
      new ExpressionInfo(classOf[PosShingleHashesExpr].getName, "shingle_pos_hashes"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "shingle_pos_hashes takes (text, k)")
        PosShingleHashesExpr(children.head, intArg("shingle_pos_hashes", "k", children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_sign_bits"),
      new ExpressionInfo(classOf[VecSignExpr].getName, "vec_sign_bits"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "vec_sign_bits takes (embedding, bits)")
        VecSignExpr(children.head, intArg("vec_sign_bits", "bits", children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("rep_gram_stats"),
      new ExpressionInfo(classOf[graft.functions.RepGramStatsExpr].getName, "rep_gram_stats"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "rep_gram_stats takes (text, n)")
        graft.functions.RepGramStatsExpr(children.head, intArg("rep_gram_stats", "n", children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("bigram_tf"),
      new ExpressionInfo(classOf[graft.functions.BigramTfExpr].getName, "bigram_tf"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "bigram_tf takes exactly one argument")
        graft.functions.BigramTfExpr(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("token_tf"),
      new ExpressionInfo(classOf[graft.functions.TokenTfExpr].getName, "token_tf"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "token_tf takes exactly one argument")
        graft.functions.TokenTfExpr(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("token_entropy"),
      new ExpressionInfo(classOf[graft.functions.TokenEntropyExpr].getName, "token_entropy"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "token_entropy takes exactly one argument")
        graft.functions.TokenEntropyExpr(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSizeExpr].getName, "sorted_intersect_size"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "sorted_intersect_size takes exactly two arguments")
        SortedIntersectSizeExpr(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("random_project"),
      new ExpressionInfo(classOf[RandomProjectExpr].getName, "random_project"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "random_project takes (embedding, outDim)")
        RandomProjectExpr(children.head, intArg("random_project", "outDim", children(1)))
      }))
    // ON by default (spark.graft.hoistLambdaInvariants=false to disable):
    // hoists lambda-invariant tokenize/shingle chains out of HOF bodies —
    // the O(len²)-per-row interpreted re-evaluation class
    ext.injectOptimizerRule(_ => graft.plans.HoistLambdaInvariants)
  }
}
