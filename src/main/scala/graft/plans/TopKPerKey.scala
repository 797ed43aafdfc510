package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending,
  Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.PlanBridge

/** Custom whole-operator extension (the (c) rung of the builder brief's
  * preference ladder): a map-side PARTIAL top-k-per-key prune —
  * `LogicalPlan` node + `SparkStrategy` + `SparkPlan` — plugged in
  * through the public extension points.
  *
  * What it is for: bounding a per-key tail BEFORE the exchange. Since
  * per-partition top-k under a TOTAL order is a superset of global
  * top-k, a bounded per-partition prune caps shuffle volume at
  * k·|keys|·|partitions| rows regardless of fact-table size, and an
  * exact window after the shuffle restores precise semantics. The
  * pattern the reference's consumers hit constantly — "latest k events
  * per stream group" over the event log (per-group chunk delivery,
  * /root/reference/src/stream_handler/natsio.rs:186-210) — at 100 TB
  * would otherwise move the whole table through one exchange.
  *
  * Relation to the built-in: since Spark 3.5 `InsertWindowGroupLimit`
  * plants an equivalent partial+final `WindowGroupLimit` when the plan
  * literally contains `Filter(rank-fn <= k, Window(...))` — for THAT
  * idiom the built-in already bounds the exchange (and q21 benefits
  * from it on stock sessions; PlanSpec pins it). This node earns its
  * place where no window filter exists for the built-in rule to match:
  * materializing the per-key tail ahead of a join or a sink via the
  * explicit [[TopKPerKey.prune]] API.
  *
  * The prune order MUST be total (tie-broken): with ties at the k-th
  * place an arbitrary subset survives the partial pass, and the final
  * window could then rank a dropped row into the true top-k.
  * [[TopKPerKey.prune]] is the API; planning happens via
  * [[TopKStrategy]] (injected by `graft.GraftExtensions` or
  * `spark.experimental.extraStrategies`).
  */
case class PartialTopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): PartialTopKPerKey =
    copy(child = newChild)
}

/** Physical partial top-k: one pass per partition, a bounded binary
  * heap per key (worst survivor on top), zero shuffles introduced —
  * `outputPartitioning` is the child's, so Catalyst plans the
  * downstream exchange exactly as it would have without the prune,
  * just over ≤ k·|keys| rows per partition. */
case class PartialTopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "input rows"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "pruned output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (kLocal, keyExprs, sortOrder, childOutput) = (k, keys, order, child.output)
    val inRows = longMetric("numInputRows")
    val outRows = longMetric("numOutputRows")
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // total row order; heap keeps the WORST survivor on top so one
      // compare decides admission
      val ord: Ordering[InternalRow] = new LazilyGeneratedOrdering(sortOrder, childOutput)
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
      iter.foreach { row =>
        inRows += 1
        val key = keyProj(row)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[UnsafeRow](ord.asInstanceOf[Ordering[UnsafeRow]])
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < kLocal) {
          heap.enqueue(row.asInstanceOf[UnsafeRow].copy())
        } else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.asInstanceOf[UnsafeRow].copy())
        }
      }
      heaps.valuesIterator.flatMap(_.iterator).map { r => outRows += 1; r }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKPerKeyExec =
    copy(child = newChild)
}

/** Planner strategy for the custom node — the injection point
  * (`SparkSessionExtensions.injectPlannerStrategy` /
  * `spark.experimental.extraStrategies`). */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartialTopKPerKey(keys, ord, k, child) =>
      PartialTopKPerKeyExec(keys, ord, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {
  /** Wrap `df` in the partial-prune node. `order` is (column,
    * descending?) pairs and must be a TOTAL order (see class doc).
    * Columns go in as UnresolvedAttributes — Catalyst's analyzer
    * resolves them inside the node exactly as it does for built-in
    * operators (Spark 4's lazy Column trees are not usable as executor
    * expressions directly). */
  def prune(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    // idempotent late registration for sessions built without
    // spark.sql.extensions=graft.GraftExtensions
    if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    }
    val sortOrder = order.map { case (name, desc) =>
      SortOrder(UnresolvedAttribute.quoted(name), if (desc) Descending else Ascending)
    }
    PlanBridge.ofRows(spark,
      PartialTopKPerKey(keys.map(UnresolvedAttribute.quoted), sortOrder, k,
        PlanBridge.logical(df)))
  }
}
