package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import scala.collection.mutable

/**
 * Whole-operator custom plan (SURVEY.md custom-operator ladder step (c)):
 * bounded per-key top-k. The built-in expression of this pattern —
 * `row_number() OVER (PARTITION BY key ORDER BY ord) <= k` — SORTS every
 * partition in full and shuffles every row; at 100 TB that sort dominates
 * the query. This operator keeps a size-k heap per key, applies itself
 * BEFORE the shuffle as well as after (top-k of top-k is top-k — the same
 * partial/final split as aggregation), so at most k rows per key per input
 * partition ever reach the exchange, and nothing is globally sorted.
 */
case class TopKPerKeyNode(k: Int, keys: Seq[Expression], order: Seq[SortOrder],
                          child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(k, keys, order, child) =>
      val partialExec = TopKPerKeyExec(k, keys, order, partial = true, planLater(child))
      TopKPerKeyExec(k, keys, order, partial = false, partialExec) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(k: Int, keys: Seq[Expression], order: Seq[SortOrder],
                          partial: Boolean, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  /** final pass needs all rows of a key together; the partial pass runs
    * wherever the child's rows already are — same contract as partial
    * aggregation. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  /** rows keep their key clustering — forwarding it lets a downstream
    * key-partitioned operator (e.g. the ranking window of
    * [[TopK.ranked]]) reuse the exchange instead of re-shuffling */
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val sortOrder = order
    val childOutput = child.output
    // Memory contract: each task holds (distinct keys in its partition) × k
    // row copies — the operator is for bounded-cardinality keys (event
    // types, sessions, tenants). At unbounded per-partition key cardinality
    // use the window form, which sorts and spills. The heap structure
    // itself never exceeds k entries per key by construction.
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // children normally emit UnsafeRow, but the contract only promises
      // InternalRow — convert defensively instead of ClassCastException-ing
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      val ord = RowOrdering.create(sortOrder, childOutput)
      // max-heap by sort position: head = worst row currently kept
      implicit val rowOrd: Ordering[UnsafeRow] =
        (a: UnsafeRow, b: UnsafeRow) => ord.compare(a, b)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
      iter.foreach { row =>
        val unsafe = row match {
          case u: UnsafeRow => u
          case other => toUnsafe(other)
        }
        val key = keyProj(unsafe)
        // look up with the reused projection row; copy the key only on
        // first insertion — one allocation per distinct key, not per row
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[UnsafeRow]
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < kLocal) heap.enqueue(unsafe.copy())
        else if (ord.compare(unsafe, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(unsafe.copy())
        }
      }
      // drain each heap best-first (dequeueAll yields worst-first)
      heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Public API + idempotent strategy registration. */
object TopK {
  import org.apache.spark.sql.graft.bridge
  import org.apache.spark.sql.catalyst.expressions.Descending
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions.{col, row_number}

  /** Exact top-k rows per key under `orderBy`, without a global sort:
    * `TopK.perKey(df, Seq("g"), Seq("x" -> true, "id" -> false), 3)` —
    * orderBy pairs are (columnName, descending). Attributes are resolved
    * eagerly against the analyzed child (Spark 4's lazy column nodes do
    * not resolve through custom logical nodes). Include a unique
    * tie-break column for determinism. */
  def perKey(df: DataFrame, keyCols: Seq[String],
             orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark: SparkSession = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute = analyzed.output
      .find(a => df.sparkSession.sessionState.conf.resolver(a.name, name))
      .getOrElse(throw new IllegalArgumentException(
        s"column $name not in ${analyzed.output.map(_.name).mkString(", ")}"))
    bridge.ofRows(spark, TopKPerKeyNode(k,
      keyCols.map(attr),
      orderBy.map { case (name, desc) =>
        SortOrder(attr(name), if (desc) Descending else Ascending)
      },
      analyzed))
  }

  /** [[perKey]], then each key's survivors numbered from 1 in `rankCol`
    * by the same `orderBy`: the rows and ranks of
    * `row_number() OVER (PARTITION BY keyCols ORDER BY orderBy) <= k`,
    * null placement included (descending puts nulls last, ascending
    * first, in the heap and the window alike). The order is stated once,
    * so the heap and the rank cannot disagree; the window sorts only the
    * ≤ k survivors per key and reuses the final heap's key clustering,
    * so it adds no exchange. */
  def ranked(df: DataFrame, keyCols: Seq[String], orderBy: Seq[(String, Boolean)],
             k: Int, rankCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderBy.map {
      case (name, desc) => if (desc) col(name).desc else col(name).asc
    }: _*)
    perKey(df, keyCols, orderBy, k).withColumn(rankCol, row_number().over(w))
  }
}
