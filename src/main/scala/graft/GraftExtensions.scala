package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.VectorExpressions.CosineSim
import graft.functions.StringSimilarity.JaroWinkler
import graft.functions.{Bitmap, Hll, Kmv}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so clusters enabling
  * `spark.sql.extensions=graft.GraftExtensions` get `cosine_sim(a, b)`,
  * `hll_sketch/hll_merge/hll_estimate`, `kmv_sketch/kmv_merge/
  * kmv_estimate/kmv_intersect` in plain SQL (and future
  * rules/strategies hook in here).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rules (operator-optimization fixed-point batch)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinBandRule)
    ext.injectOptimizerRule(_ => graft.plans.DistinctCountRegroupRule)
    // whole-operator extension: the native as-of join physical operator
    // (graft.plans.AsOfJoinPlan → AsOfJoinExec; TemporalOps.asofJoinNative)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) => JaroWinkler(children(0), children(1))))
    // aggregates: the analyzer wraps a bare AggregateFunction builder
    // result in an AggregateExpression
    ext.injectFunction((
      FunctionIdentifier("hll_sketch"),
      new ExpressionInfo(classOf[Hll.HllSketch].getName, "hll_sketch"),
      (children: Seq[Expression]) => Hll.HllSketch(children.head)))
    ext.injectFunction((
      FunctionIdentifier("hll_merge"),
      new ExpressionInfo(classOf[Hll.HllMergeAgg].getName, "hll_merge"),
      (children: Seq[Expression]) => Hll.HllMergeAgg(children.head)))
    ext.injectFunction((
      FunctionIdentifier("hll_estimate"),
      new ExpressionInfo(classOf[Hll.HllEstimate].getName, "hll_estimate"),
      (children: Seq[Expression]) => Hll.HllEstimate(children.head)))
    ext.injectFunction((
      FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[Kmv.KmvSketchAgg].getName, "kmv_sketch"),
      (children: Seq[Expression]) => Kmv.KmvSketchAgg(children.head)))
    ext.injectFunction((
      FunctionIdentifier("kmv_merge"),
      new ExpressionInfo(classOf[Kmv.KmvMergeAgg].getName, "kmv_merge"),
      (children: Seq[Expression]) => Kmv.KmvMergeAgg(children.head)))
    ext.injectFunction((
      FunctionIdentifier("kmv_estimate"),
      new ExpressionInfo(classOf[Kmv.KmvEstimate].getName, "kmv_estimate"),
      (children: Seq[Expression]) => Kmv.KmvEstimate(children.head)))
    ext.injectFunction((
      FunctionIdentifier("kmv_intersect"),
      new ExpressionInfo(classOf[Kmv.KmvIntersect].getName, "kmv_intersect"),
      (children: Seq[Expression]) => Kmv.KmvIntersect(children(0), children(1))))
    // exact dense-domain set algebra (see graft.functions.Bitmap)
    ext.injectFunction((
      FunctionIdentifier("idset_agg"),
      new ExpressionInfo(classOf[Bitmap.BitmapAgg].getName, "idset_agg"),
      (children: Seq[Expression]) => Bitmap.BitmapAgg(children.head)))
    ext.injectFunction((
      FunctionIdentifier("idset_merge"),
      new ExpressionInfo(classOf[Bitmap.BitmapMergeAgg].getName, "idset_merge"),
      (children: Seq[Expression]) => Bitmap.BitmapMergeAgg(children.head)))
    ext.injectFunction((
      FunctionIdentifier("idset_count"),
      new ExpressionInfo(classOf[Bitmap.BitmapCount].getName, "idset_count"),
      (children: Seq[Expression]) => Bitmap.BitmapCount(children.head)))
    ext.injectFunction((
      FunctionIdentifier("idset_and"),
      new ExpressionInfo(classOf[Bitmap.BitmapAnd].getName, "idset_and"),
      (children: Seq[Expression]) => Bitmap.BitmapAnd(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("idset_andnot"),
      new ExpressionInfo(classOf[Bitmap.BitmapAndNot].getName, "idset_andnot"),
      (children: Seq[Expression]) => Bitmap.BitmapAndNot(children(0), children(1))))
    // Spark ships these two internally (runtime filter injection) but
    // never registers SQL names; surface them for the Bloom
    // decontamination tier
    ext.injectFunction((
      FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))))
  }
}
