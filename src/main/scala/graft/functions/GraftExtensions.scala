package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook registering graft's custom expressions in
  * the SQL function registry, so they are callable from `spark.sql(...)`
  * text as well as the Column API:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * ...
  * spark.sql("SELECT sorted_intersect_count(a, b), dot_long(a, b) FROM t")
  * }}}
  *
  * This is the standard injection point a cluster deployment uses (set the
  * config on spark-submit and every session on the cluster gets the
  * functions) — no code change needed in notebooks/SQL jobs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName, "sorted_intersect_count"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "sorted_intersect_count(a, b) takes 2 arguments")
        SortedLongIntersectCount(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_long"),
      new ExpressionInfo(classOf[DotProductLong].getName, "dot_long"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_long(a, b) takes 2 arguments")
        DotProductLong(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("nfc"),
      new ExpressionInfo(classOf[NormalizeNfc].getName, "nfc"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "nfc(s) takes 1 argument")
        NormalizeNfc(args.head)
      }))
    // Custom AGGREGATES are SQL-callable too — the analyzer wraps a bare
    // AggregateFunction from the registry in an AggregateExpression. The
    // k argument must be a literal (it sizes the buffer at plan time).
    def litInt(e: Expression, fn: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case _ => throw new IllegalArgumentException(s"$fn: k must be an INT literal")
    }
    ext.injectFunction((
      new FunctionIdentifier("decimal_top_k"),
      new ExpressionInfo(classOf[DecimalTopK].getName, "decimal_top_k"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "decimal_top_k(score, id, k) takes 3 arguments")
        DecimalTopK(args.head, args(1), litInt(args(2), "decimal_top_k"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "misra_gries"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "misra_gries(item, k) takes 2 arguments")
        MisraGriesAgg(args.head, litInt(args(1), "misra_gries"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_int8"),
      new ExpressionInfo(classOf[DotProductByte].getName, "dot_int8"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_int8(a, b) takes 2 arguments")
        DotProductByte(args.head, args(1))
      }))
    // graft's standard sketch configuration (the constants baked into the
    // oracle SQL): 64 fixed-LCG permutations for MinHash, 60-bit SimHash.
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSignatureExpr].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "minhash_sig(hashes) takes 1 argument")
        MinhashSignatureExpr(args.head,
          graft.llm.Similarity.permA, graft.llm.Similarity.permB, graft.llm.Similarity.P)
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimhashExpr].getName, "simhash60"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash60(hashes) takes 1 argument")
        SimhashExpr(args.head, graft.llm.Similarity.SimhashBits)
      }))
  }
}
