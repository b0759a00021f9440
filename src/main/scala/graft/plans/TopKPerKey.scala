package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy,
  UnaryExecNode}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native per-key top-k: the whole-operator custom-plan path (SURVEY §7.3
  * preference (c) — logical node + strategy + physical exec).
  *
  * Why: the composable form — `row_number().over(partitionBy(key)
  * .orderBy(...)) <= k` — SORTS every partition's full group, O(n log n)
  * per key, and materializes rank for rows that are immediately discarded.
  * This operator keeps a bounded k-heap per key inside one pass over the
  * keyed exchange: O(n log k), no sort, no rank column, ~k rows retained
  * per key in memory instead of the group.
  *
  * MEMORY CONTRACT: the per-task state is (k+1) copied rows for every
  * DISTINCT key in the partition and does NOT spill (the window form
  * spills via its sort). Use it when k·|keys per partition| ≪ partition
  * data — the regime it exists for; outside it, the sort-based window
  * formulation is the right operator. `maxKeysPerPartition` enforces the
  * contract LOUDLY: a task that exceeds it fails with guidance instead of
  * creeping toward an executor OOM.
  *
  * Physical contract: requiredChildDistribution clusters by the key, so
  * Catalyst inserts (or reuses) the hash exchange; within a partition a
  * hash map of bounded heaps retains the top rows under the given
  * ordering. Deterministic when the ordering is total (give a tie-break,
  * as all query sites here do).
  */
case class TopKPerKey(k: Int, keys: Seq[Expression], order: Seq[SortOrder],
                      child: LogicalPlan,
                      maxKeysPerPartition: Int = TopK.defaultMaxKeysPerPartition,
                      rankAttr: Option[Attribute] = None)
    extends UnaryNode {
  require(k > 0 && keys.nonEmpty)
  override def output: Seq[Attribute] = child.output ++ rankAttr
  // rank originates HERE, not from the child — without this, analysis
  // flags it as a missing input attribute
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions
    .AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr.toSeq)
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKPerKey = copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, keys, order, child, maxKeys, rankAttr) =>
      // partial/final split (the aggregate pattern): the map-side pass
      // prunes each INPUT partition to its local top-k per key before
      // the exchange, so the shuffle carries ≤ k·|local keys| rows —
      // without it, vanilla Spark's WindowGroupLimit partial pruning
      // BEATS the heap on large groups (measured in SURVEY §8.24)
      // because this operator would ship the full input.
      TopKPerKeyExec(k, keys, order,
        TopKPerKeyPartialExec(k, keys, order, planLater(child), maxKeys),
        maxKeys, rankAttr) :: Nil
    case _ => Nil
  }
}

/** Map-side partial top-k: per INPUT partition, retain each key's local
  * top-k under the ordering (a superset of every key's global top-k
  * contribution from this partition — heap filtering is closed under
  * union; any row evicted here had ≥ k better same-key rows in the same
  * partition, hence ≥ k better globally). Emits rows unordered and
  * unranked; the final [[TopKPerKeyExec]] beyond the exchange re-heaps
  * and assigns ranks.
  *
  * CAP SEMANTICS differ from the final pass deliberately: input
  * partitions are UNCLUSTERED, so distinct keys per task can reach the
  * full key cardinality regardless of parallelism — hard-failing here
  * would reject queries the post-exchange operator handles fine (each
  * reduce task sees only ~|keys|/partitions keys). The partial pass is
  * an optimization, not the memory contract: past the cap it DEGRADES
  * to pass-through (new keys flow to the exchange unfiltered; existing
  * heaps keep pruning), exactly how Spark's own partial hash
  * aggregation falls back under hash pressure. The final pass keeps the
  * loud cap.
  */
case class TopKPerKeyPartialExec(k: Int, keys: Seq[Expression],
                                 order: Seq[SortOrder], child: SparkPlan,
                                 maxKeysPerPartition: Int)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val kk = k
    val maxKeys = maxKeysPerPartition
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordering = org.apache.spark.sql.catalyst.expressions.RowOrdering
        .create(sortOrder, childOutput)
      val heaps = mutable.HashMap.empty[UnsafeRow,
        java.util.PriorityQueue[InternalRow]]
      // filtering phase: heap rows we retain state for, stream through
      // rows whose keys exceed the cap
      val passedThrough = iter.filter { row =>
        val key = keyProj(row)
        var heap = heaps.getOrElse(key, null)
        if (heap == null && heaps.size < maxKeys) {
          heap = new java.util.PriorityQueue[InternalRow](kk + 1,
            ordering.reversed())
          heaps.put(key.copy(), heap) // copy only on first sight
        }
        if (heap == null) true // degraded: emit unfiltered
        else {
          if (heap.size < kk) heap.add(row.copy())
          else if (ordering.compare(row, heap.peek()) < 0) {
            heap.poll(); heap.add(row.copy())
          }
          false
        }
      }
      passedThrough ++ heaps.valuesIterator.flatMap(_.iterator().asScala)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKPerKeyPartialExec = copy(child = newChild)
}

case class TopKPerKeyExec(k: Int, keys: Seq[Expression],
                          order: Seq[SortOrder], child: SparkPlan,
                          maxKeysPerPartition: Int,
                          rankAttr: Option[Attribute])
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions
    .AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr.toSeq)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val outAttrs = output
    val keyExprs = keys
    val sortOrder = order
    val kk = k
    val maxKeys = maxKeysPerPartition
    val emitRank = rankAttr.isDefined
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordering = org.apache.spark.sql.catalyst.expressions.RowOrdering
        .create(sortOrder, childOutput)
      // identity projection to UnsafeRow over (child row ++ rank)
      val outProj =
        if (emitRank) UnsafeProjection.create(outAttrs, outAttrs) else null
      // head of each heap = the WORST retained row (reverse ordering)
      val heaps = mutable.HashMap.empty[UnsafeRow,
        java.util.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.getOrElse(key, null)
        if (heap == null) {
          if (heaps.size >= maxKeys)
            throw new IllegalStateException(
              s"TopKPerKey: more than $maxKeys distinct keys in one " +
                "partition; per-key heaps do not spill. Raise " +
                "maxKeysPerPartition only with the executor memory to " +
                s"back it (state = (k+1)=$kk+1 rows x keys), use the " +
                "sort-based window formulation for high-cardinality " +
                "keys, or — if this plan came from the optimizer " +
                "rewrite — set spark.graft.topkRewrite.enabled=false.")
          heap = new java.util.PriorityQueue[InternalRow](kk + 1,
            ordering.reversed())
          heaps.put(key.copy(), heap) // copy only on first sight
        }
        if (heap.size < kk) heap.add(row.copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      heaps.valuesIterator.flatMap { h =>
        val rows = new Array[InternalRow](h.size)
        var i = rows.length - 1
        while (i >= 0) { rows(i) = h.poll(); i -= 1 } // best-first order
        if (!emitRank) rows.iterator
        else {
          // rank = heap drain position + 1 — exactly row_number() under
          // the operator's total ordering, with no sort anywhere
          val joined = new org.apache.spark.sql.catalyst.expressions
            .JoinedRow
          rows.iterator.zipWithIndex.map { case (r, idx) =>
            outProj(joined(r,
              new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(Array[Any](idx + 1))))
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKPerKeyExec = copy(child = newChild)
}

object TopK {

  /** ~8.4M distinct keys per task ≈ hundreds of MB of heap state at
    * typical row widths — past this, the window form is the right tool.
    */
  val defaultMaxKeysPerPartition: Int = 1 << 23

  /** Sort direction for `perKey`'s ordering spec. */
  sealed trait Dir
  case object Asc extends Dir
  case object Desc extends Dir

  /** Top-k rows per key under the given ordering — the sort-free
    * replacement for `row_number().over(...) <= k`. Key/order columns are
    * resolved by name against the input's analyzed output (a hand-built
    * logical node bypasses the Column-resolution path, so unresolved
    * attributes must not reach it). Registers the planning strategy
    * idempotently on the frame's session — works on vanilla sessions, no
    * extensions config needed.
    *
    * See the memory contract on [[TopKPerKey]]: state is (k+1) rows per
    * distinct key per task, non-spilling, capped loudly by
    * `maxKeysPerPartition`.
    */
  /** @param rankCol when set, append a 1-based INT rank column with this
    *   name — the drain order of the per-key heap, i.e. exactly the
    *   `row_number()` the window formulation would compute, still with no
    *   sort anywhere in the plan.
    */
  def perKey(df: DataFrame, keyCols: Seq[String],
             order: Seq[(String, Dir)], k: Int,
             maxKeysPerPartition: Int = defaultMaxKeysPerPartition,
             rankCol: Option[String] = None)
      : DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val child = ColumnBridge.logicalPlan(df)
    def attr(name: String): Attribute =
      child.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${child.output.map(_.name)}"))
    val sortOrders = order.map { case (name, dir) =>
      SortOrder(attr(name), dir match {
        case Asc => org.apache.spark.sql.catalyst.expressions.Ascending
        case Desc => org.apache.spark.sql.catalyst.expressions.Descending
      })
    }
    val rankAttr = rankCol.map(n =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        n, org.apache.spark.sql.types.IntegerType, nullable = false)())
    ColumnBridge.ofRows(spark,
      TopKPerKey(k, keyCols.map(attr), sortOrders, child,
        maxKeysPerPartition, rankAttr))
  }
}
