package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.FunctionBridge
import graft.functions.{DotProductFF, L2SliceDistanceFF}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions for the SQL surface. Activate at build time with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or
  * `.withExtensions(new GraftExtensions)`), or on a live session with
  * [[GraftExtensions.register]].
  *
  * Functions:
  *  - `graft_dot(array<float>, array<float>) -> double` — exact
  *    left-to-right dot product (graft.functions.DotProductFF).
  *  - `graft_l2_slice(array<float>, array<float>[, offset, length])
  *    -> double` — exact squared L2 distance over a constant slice
  *    (graft.functions.L2SliceDistanceFF); bounds must be integer
  *    literals (they parameterize the generated loop).
  *
  * Planner strategies:
  *  - [[graft.plans.TopKStrategy]] — plans the custom partial
  *    top-k-per-key prune node (graft.plans.PartialTopKPerKey).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductFF].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProductFF(children.head, children(1))))
    e.injectFunction((FunctionIdentifier("graft_l2_slice"),
      new ExpressionInfo(classOf[L2SliceDistanceFF].getName, "graft_l2_slice"),
      GraftExtensions.buildL2))
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {
  /** Register the same functions on an already-running session. */
  def register(spark: SparkSession): Unit = {
    FunctionBridge.registerTemp(spark, "graft_dot",
      children => DotProductFF(children.head, children(1)))
    FunctionBridge.registerTemp(spark, "graft_l2_slice", buildL2)
  }

  /** SQL builder for graft_l2_slice: 2-arg whole-vector form or 4-arg
    * slice form whose bounds must fold to integers at plan time (they
    * become the generated loop's constant trip bounds). */
  private[graft] val buildL2: Seq[Expression] => Expression = { children =>
    def constInt(e: Expression, what: String): Int = {
      require(e.foldable, s"graft_l2_slice $what must be an integer literal")
      e.eval(null) match {
        case i: Int  => i
        case l: Long =>
          // a Long that doesn't round-trip through Int would silently
          // wrap the slice bounds (e.g. offset 2³² → 0) and return a
          // plausible-but-wrong distance; fail loudly instead
          require(l == l.toInt.toLong,
            s"graft_l2_slice $what out of Int range: $l")
          l.toInt
        case other => throw new IllegalArgumentException(
          s"graft_l2_slice $what must be an integer literal, got $other")
      }
    }
    children match {
      case Seq(a, b) => L2SliceDistanceFF(a, b, 0, Int.MaxValue)
      case Seq(a, b, o, n) =>
        L2SliceDistanceFF(a, b, constInt(o, "offset"), constInt(n, "length"))
      case _ => throw new IllegalArgumentException(
        s"graft_l2_slice takes 2 or 4 arguments, got ${children.size}")
    }
  }
}
