package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** graft's native SQL functions, usable from SQL text as well as the
  * Column API. `GraftSession.build` registers every descriptor below on
  * each session it returns, together with the `SimplifyJsToNumber` and
  * `RewriteTopKWindow` rules and the `TopKPerKeyStrategy` planner; no
  * query or spec installs anything itself.
  */
object GraftExtensions {
  private[graft] type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_], arity: Int, usage: String)(
      build: Seq[Expression] => Expression): Descriptor = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => {
      require(children.size == arity, s"$name takes $usage")
      build(children)
    }
  )

  /** The sketch size `k` must be a foldable integer literal. */
  private def kLiteral(name: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$name k must be an integer literal, got $other")
  }

  private[graft] val descriptors: Seq[Descriptor] = Seq(
    fn("js_to_number", classOf[JsToNumber], 1, "exactly 1 argument")(c =>
      JsToNumber(c.head)),
    fn("graft_hex60", classOf[Hex60], 1, "exactly 1 argument")(c => Hex60(c.head)),
    fn("graft_hilbert", classOf[HilbertIndex], 3, "(x BIGINT, y BIGINT, bits INT)")(c =>
      HilbertIndex(c(0), c(1), c(2))),
    fn("graft_kmv_distinct", classOf[KmvDistinct], 2, "(hash BIGINT, k INT literal)")(c =>
      KmvDistinct(c.head, kLiteral("graft_kmv_distinct", c(1)))),
    fn("graft_kll_sketch", classOf[KllSketchAgg], 2, "(v BIGINT, k INT literal)")(c =>
      KllSketchAgg(c.head, kLiteral("graft_kll_sketch", c(1)))),
    fn("graft_kll_merge", classOf[KllMergeAgg], 1, "(sketch BINARY)")(c =>
      KllMergeAgg(c.head)),
    fn("graft_kll_quantile", classOf[KllQuantile], 2, "(sketch BINARY, q_ppm BIGINT)")(c =>
      KllQuantile(c(0), c(1))),
    fn("graft_mg_sketch", classOf[MgSketchAgg], 2, "(item STRING, k INT literal)")(c =>
      MgSketchAgg(c.head, kLiteral("graft_mg_sketch", c(1)))),
    fn("graft_mg_merge", classOf[MgMergeAgg], 1, "(sk BINARY)")(c => MgMergeAgg(c.head)),
    fn("graft_mg_estimate", classOf[MgEstimate], 2, "(sk BINARY, item STRING)")(c =>
      MgEstimate(c(0), c(1))),
    fn("graft_kmv_sketch", classOf[KmvSketchAgg], 2, "(hash BIGINT, k INT literal)")(c =>
      KmvSketchAgg(c.head, kLiteral("graft_kmv_sketch", c(1)))),
    fn("graft_kmv_merge", classOf[KmvMergeAgg], 1, "(sk BINARY)")(c => KmvMergeAgg(c.head)),
    fn("graft_kmv_estimate", classOf[KmvEstimate], 1, "(sk BINARY)")(c =>
      KmvEstimate(c.head)),
    fn("graft_lvecsum", classOf[LongVecSumAgg], 1, "(v ARRAY<BIGINT>)")(c =>
      LongVecSumAgg(c.head))
  )

  /** Column-API entry point for the native JS `Number()` coercion. */
  def js_to_number(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("js_to_number", c)

  /** Column-API entry point for the native hex60. */
  def graft_hex60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_hex60", c)

  /** Column-API entry point for the native Hilbert index. */
  def graft_hilbert(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
                    bits: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_hilbert", x, y,
      org.apache.spark.sql.functions.lit(bits))
}
