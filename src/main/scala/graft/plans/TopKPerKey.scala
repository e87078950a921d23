package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf

/** Per-key top-k as a first-class operator: logical node → planner strategy
  * → physical operator (SURVEY.md §7.3 tier (c): custom
  * `LogicalPlan` + `SparkStrategy` + `SparkPlan` via
  * `SparkSessionExtensions`).
  *
  * Why a custom operator: the built-in formulation
  * (`row_number().over(partitionBy(keys).orderBy(ord)) <= k`) must SORT
  * every group's full contents after the exchange, and ships every input
  * row through the shuffle. This operator plans like a partial aggregation:
  * a map-side phase keeps a bounded k-row heap per key (so at most
  * |keys-per-partition|·k rows enter the exchange), then a final phase
  * merges after Spark inserts the key-clustered exchange demanded by
  * `requiredChildDistribution`. At 100 TB that is the difference between
  * shuffling the corpus and shuffling k rows per key — the ANN top-k
  * queries are exactly this shape.
  *
  * Memory safety (both phases bounded):
  *  - The partial phase caps its per-partition key map at
  *    `graft.topk.partialMaxKeys` (default 131072 ≈ a few tens of MB of
  *    heap state). Rows whose key is beyond the cap pass through unpruned —
  *    correctness is unaffected (pruning is only an optimization; the final
  *    phase re-applies the exact semantics), so near-unique-key inputs
  *    degrade gracefully to a plain shuffle instead of OOMing the map side
  *    (the same guard Spark's partial hash aggregation has).
  *  - The final phase holds NO map at all: it declares
  *    `requiredChildOrdering` on (keys, order), so Spark plans its own
  *    spill-safe external SortExec under it, and the merge reduces to a
  *    streaming take-k per consecutive key group — O(k) state total.
  *
  * Results are identical to the window formulation when the ordering is
  * total per group (callers add a unique tie-break column, as the harness
  * queries do).
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = child.output

  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKPerKey {
  /** Session conf key: max distinct keys the partial phase tracks per
    * partition before overflowing to pass-through. */
  val PartialMaxKeysConf = "graft.topk.partialMaxKeys"
  val PartialMaxKeysDefault = 131072

  /** DataFrame-level API: columns by name, `(name, descending?)` ordering
    * (resolved against the analyzed child — Spark 4 Columns carry lazy
    * ColumnNode expressions that custom nodes can't resolve themselves).
    * Requires [[GraftExtensions]] on the session ([[graft.Session.build]]
    * registers it). */
  def apply(df: DataFrame, keys: Seq[String], orderBy: Seq[(String, Boolean)], k: Int)
      : DataFrame = {
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$n' in ${analyzed.output.map(_.name)}"))
    val order = orderBy.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    GraftShims.ofRows(df.sparkSession,
      TopKPerKey(keys.map(attr(_)), order, k, analyzed))
  }
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      val maxKeys = SQLConf.get
        .getConfString(TopKPerKey.PartialMaxKeysConf,
          TopKPerKey.PartialMaxKeysDefault.toString).toInt
      // partial (map-side bounded prune) -> exchange + sort (inserted by
      // EnsureRequirements for the final's required distribution/ordering)
      // -> final streaming take-k per key group
      val partial = TopKPerKeyExec(keys, order, k, planLater(child),
        partial = true, maxPartialKeys = maxKeys)
      TopKPerKeyExec(keys, order, k, partial,
        partial = false, maxPartialKeys = maxKeys) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    partial: Boolean,
    maxPartialKeys: Int = TopKPerKey.PartialMaxKeysDefault) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys) :: Nil

  // final phase streams over key-grouped, order-sorted input; the sort
  // Spark inserts here is its external (spilling) SortExec
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil)
    else Seq(keys.map(SortOrder(_, Ascending)) ++ order)

  override def outputOrdering: Seq[SortOrder] =
    if (partial) Nil else keys.map(SortOrder(_, Ascending)) ++ order

  override lazy val metrics: Map[String, SQLMetric] =
    if (partial) Map(
      "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
      "prunedRows" -> SQLMetrics.createMetric(sparkContext, "rows pruned before exchange"),
      "overflowRows" -> SQLMetrics.createMetric(sparkContext,
        "rows passed through unpruned (key map at capacity)"))
    else Map(
      "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val orderExprs = order
    val childOutput = child.output
    val limit = k
    val outRows = longMetric("numOutputRows")
    if (partial) {
      val keyCap = maxPartialKeys
      val pruned = longMetric("prunedRows")
      val overflow = longMetric("overflowRows")
      child.execute().mapPartitions { rows =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        val rowOrdering = GenerateOrdering.generate(orderExprs, childOutput)
        // max-heap under the requested ordering: head = worst kept row
        val heaps = new java.util.HashMap[InternalRow,
          scala.collection.mutable.PriorityQueue[InternalRow]]()
        var seen = 0L
        var emitted = 0L
        val passThrough = rows.flatMap { row =>
          seen += 1
          val key = keyProj(row)
          var heap = heaps.get(key)
          if (heap == null && heaps.size() < keyCap) {
            heap = scala.collection.mutable.PriorityQueue.empty[InternalRow](rowOrdering)
            heaps.put(key.copy(), heap)
          }
          if (heap == null) {
            // key map at capacity: emit unpruned (final phase is exact)
            overflow += 1
            outRows += 1
            emitted += 1
            Iterator.single(row)
          } else {
            if (heap.size < limit) heap.enqueue(row.copy())
            else if (rowOrdering.compare(row, heap.head) < 0) {
              heap.dequeue()
              heap.enqueue(row.copy())
            }
            Iterator.empty
          }
        }
        import scala.jdk.CollectionConverters._
        // ++ is by-name: heap flush runs only after pass-through drains
        passThrough ++ heaps.values().iterator().asScala.flatMap { h =>
          h.dequeueAll.reverseIterator
        }.map { r => outRows += 1; emitted += 1; r } ++ {
          // all iterators drained: everything not emitted was pruned
          pruned.add(seen - emitted); Iterator.empty
        }
      }
    } else {
      child.execute().mapPartitions { rows =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        var prevKey: UnsafeRow = null
        var taken = 0
        rows.filter { row =>
          val key = keyProj(row)
          if (prevKey == null || key != prevKey) {
            prevKey = key.copy()
            taken = 0
          }
          taken += 1
          val keep = taken <= limit
          if (keep) outRows += 1
          keep
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}
