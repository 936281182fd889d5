package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{CdcBoundariesExpr, DHash56Expr, DotDoubleExpr, HyperplaneBucketExpr, PngDeflateExpr, PngDhash56Expr, PngDhashFullExpr, PngStoredExpr, PolyHashExpr, Shingle3HashesExpr, ShingleKHashesExpr, SimHash48Expr, SortedIntersectCountExpr, WavFp56Expr, WordPolyHashesExpr}

/** Engine extension point (SURVEY.md §7.4 custom work): registers the
  * native hash expressions as SQL functions so queries reach them via
  * `expr("word_poly_hashes(...)")` etc. Install with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — every
  * entry point (Verify/Bench/EntrySmoke/tests) does. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def arity(name: String, n: Int)(
      b: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression =
    children => {
      require(children.length == n,
        s"$name expects $n argument(s), got ${children.length}")
      b(children)
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // index rewrite (token membership over a registered table) first so
    // it sees the array_contains spelling; it also matches the locate
    // spelling in case TokenSearchRewrite fired first
    ext.injectOptimizerRule(s => new graft.plans.TextIndexRewrite(s))
    ext.injectOptimizerRule(_ => graft.plans.TokenSearchRewrite)
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      new FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHashExpr].getName, "poly_hash"),
      arity("poly_hash", 1)(children => PolyHashExpr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("cdc_boundaries"),
      new ExpressionInfo(classOf[CdcBoundariesExpr].getName, "cdc_boundaries"),
      arity("cdc_boundaries", 1)(children => CdcBoundariesExpr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("word_poly_hashes"),
      new ExpressionInfo(classOf[WordPolyHashesExpr].getName, "word_poly_hashes"),
      arity("word_poly_hashes", 1)(children => WordPolyHashesExpr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("shingle3_hashes"),
      new ExpressionInfo(classOf[Shingle3HashesExpr].getName, "shingle3_hashes"),
      arity("shingle3_hashes", 1)(children => Shingle3HashesExpr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("shinglek_hashes"),
      new ExpressionInfo(classOf[ShingleKHashesExpr].getName, "shinglek_hashes"),
      arity("shinglek_hashes", 2)(children =>
        ShingleKHashesExpr(children.head, children(1)))))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCountExpr].getName, "sorted_intersect_count"),
      arity("sorted_intersect_count", 2)(children =>
        SortedIntersectCountExpr(children.head, children(1)))))
    ext.injectFunction((
      new FunctionIdentifier("simhash48"),
      new ExpressionInfo(classOf[SimHash48Expr].getName, "simhash48"),
      arity("simhash48", 1)(children => SimHash48Expr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("dhash56"),
      new ExpressionInfo(classOf[DHash56Expr].getName, "dhash56"),
      arity("dhash56", 1)(children => DHash56Expr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("png_dhash56"),
      new ExpressionInfo(classOf[PngDhash56Expr].getName, "png_dhash56"),
      arity("png_dhash56", 1)(children => PngDhash56Expr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("png_stored"),
      new ExpressionInfo(classOf[PngStoredExpr].getName, "png_stored"),
      arity("png_stored", 1)(children => PngStoredExpr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("png_deflate"),
      new ExpressionInfo(classOf[PngDeflateExpr].getName, "png_deflate"),
      arity("png_deflate", 1)(children => PngDeflateExpr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("png_dhash56_full"),
      new ExpressionInfo(classOf[PngDhashFullExpr].getName, "png_dhash56_full"),
      arity("png_dhash56_full", 1)(children => PngDhashFullExpr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("wav_fp56"),
      new ExpressionInfo(classOf[WavFp56Expr].getName, "wav_fp56"),
      arity("wav_fp56", 1)(children => WavFp56Expr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucketExpr].getName, "hyperplane_bucket"),
      arity("hyperplane_bucket", 3)(children =>
        HyperplaneBucketExpr(children.head, children(1), children(2)))))
    ext.injectFunction((
      new FunctionIdentifier("porter_stem"),
      new ExpressionInfo(classOf[graft.functions.PorterStemExpr].getName,
        "porter_stem"),
      arity("porter_stem", 1)(children =>
        graft.functions.PorterStemExpr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("snowball_stem"),
      new ExpressionInfo(classOf[graft.functions.SnowballStemExpr].getName,
        "snowball_stem"),
      arity("snowball_stem", 1)(children =>
        graft.functions.SnowballStemExpr(children.head))))
    ext.injectFunction((
      new FunctionIdentifier("dot_double"),
      new ExpressionInfo(classOf[DotDoubleExpr].getName, "dot_double"),
      arity("dot_double", 2)(children =>
        DotDoubleExpr(children.head, children(1)))))
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // runtime-filter rewrite but does not expose them in the public
    // FunctionRegistry; surfacing them lets queries build an EXPLICIT
    // broadcast bloom prefilter (dd_contamination_bloom) instead of
    // relying on the optimizer to inject one
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      arity("graft_bloom_agg", 3)(children =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children.head, children(1), children(2)))))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_contains"),
      arity("graft_bloom_contains", 2)(children =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1)))))
  }
}
