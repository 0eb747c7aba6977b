package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.frontier.{BloomCodec, SketchAgg}
import graft.functions.CanonicalUnitPath

/** Session extensions registering the engine's custom Catalyst pieces as
  * SQL functions, so `spark.sql` users get the same surface as the
  * DataFrame API (the SparkSessionExtensions channel — activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`; for an already-built session use
  * `GraftExtensions.register(spark)`):
  *
  *   SELECT canonical_unit_path(url) ...                 -- C1, codegen'd
  *   SELECT bucket, bloom_filter_agg(url_hash) ...       -- A7 aggregate
  *   SELECT bloom_filter_agg(url_hash, 1048576, 0.01) ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def canonicalUnitPathBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 1, "canonical_unit_path(url) takes one argument")
    CanonicalUnitPath(children.head)
  }

  private def bloomAggBuilder(children: Seq[Expression]): Expression = {
    def longArg(e: Expression, name: String): Long = e match {
      case Literal(v: Long, _) => v
      case Literal(v: Int, _) => v.toLong
      case other => throw new IllegalArgumentException(
        s"bloom_filter_agg $name must be an integer literal, got $other")
    }
    def doubleArg(e: Expression): Double = e match {
      case Literal(v: Double, _) => v
      case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
      case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"bloom_filter_agg fpp must be a numeric literal, got $other")
    }
    children match {
      case Seq(c) => SketchAgg(c, BloomCodec(1L << 20, 0.01))
      case Seq(c, items) => SketchAgg(c, BloomCodec(longArg(items, "items"), 0.01))
      case Seq(c, items, fpp) =>
        SketchAgg(c, BloomCodec(longArg(items, "items"), doubleArg(fpp)))
      case _ => throw new IllegalArgumentException(
        "bloom_filter_agg(hash[, expectedItems[, fpp]])")
    }
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("canonical_unit_path"),
        new ExpressionInfo(classOf[CanonicalUnitPath].getName, "canonical_unit_path"),
        canonicalUnitPathBuilder _),
      (FunctionIdentifier("bloom_filter_agg"),
        new ExpressionInfo(classOf[SketchAgg[_]].getName, "bloom_filter_agg"),
        bloomAggBuilder _))

  /** Register into an ALREADY-BUILT session (extensions normally apply at
    * session construction; this is the library-call form).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      reg.registerFunction(id, info, builder)
    }
  }
}
