package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Grouped top-k as a first-class operator: custom logical node, planner
  * strategy, and a two-stage physical implementation.
  *
  * It replaced the composed form (a `mapPartitions` heap prune under a
  * `row_number` window) from the top rung of the preference ladder:
  * compose built-ins → custom Expression → custom LogicalPlan + Strategy
  * + SparkPlan. `GroupedTopKSpec` pins it against the window form. The
  * physical pipeline is
  *
  *   [[PartialTopKExec]]  — bounded per-key heaps inside every input
  *     partition, over raw InternalRows (no encoder round-trip); emits
  *     ≤ k rows per key per partition.
  *   [[ExactTopKExec]]    — declares `ClusteredDistribution(key)` and a
  *     (key, ordering) child ordering; Spark's EnsureRequirements then
  *     inserts exactly the hash exchange + sort this operator needs —
  *     the operator states WHAT it requires, the planner owns HOW.
  *     Emits the first k rows of each key run.
  *
  * What crosses the exchange is O(keys·k·partitions), not O(rows) — the
  * same pruning argument as the composed form, but with operator-level
  * control: no Row encoders, no window machinery, and a plan that reads
  * as what it is (`ExactTopK ← Sort ← Exchange ← PartialTopK`).
  */
case class GroupedTopKNode(keys: Seq[Attribute], ordering: Seq[SortOrder], k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedTopKNode =
    copy(child = newChild)
}

object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopKNode(keys, ordering, k, child) =>
      ExactTopKExec(keys, ordering, k,
        PartialTopKExec(keys, ordering, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Map-side prune: ≤ k rows per key per partition, bounded heaps. */
case class PartialTopKExec(keys: Seq[Attribute], ordering: Seq[SortOrder], k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKExec =
    copy(child = newChild)

  // per-partition row filter — partitioning is untouched. Without this
  // forward, UnaryExecNode's UnknownPartitioning default hides an
  // already-aligned child (e.g. an agg clustered on the top-k key) from
  // EnsureRequirements, which then inserts a redundant full exchange
  // above the partial prune (caught by PlanSpec's q41 pin, r9).
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val boundKeys = keys.map(k =>
      BindReferences.bindReference(k: Expression, child.output))
    val sortExprs = ordering.map(so =>
      so.copy(child = BindReferences.bindReference(so.child, child.output)))
    child.execute().mapPartitions ({ rows =>
      val ord = RowOrdering.create(sortExprs, Nil).asInstanceOf[Ordering[InternalRow]]
      // keys are compared as projected UnsafeRows (byte-wise equals +
      // murmur hash) — Seq[Any] equality would be reference-based for
      // binary/array/struct keys, splintering every row into its own
      // "group" and silently disabling the map-side prune
      val keyProj = UnsafeProjection.create(boundKeys)
      // max-heap on "worst kept": a better arrival evicts the head
      val heaps = new java.util.HashMap[UnsafeRow,
        scala.collection.mutable.PriorityQueue[InternalRow]]()
      rows.foreach { r =>
        // probe with the projection's reused buffer (UnsafeRow equality
        // and hashing are content-based); COPY only on first sight of a
        // key — a copy per input row was ~600 k allocations per
        // partition pass on the top-k bench queries
        val kv = keyProj(r)
        var h = heaps.get(kv)
        if (h == null) {
          h = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
          heaps.put(kv.copy(), h)
        }
        if (h.size < k) h.enqueue(r.copy())
        else if (ord.lt(r, h.head)) { h.dequeue(); h.enqueue(r.copy()) }
      }
      import scala.jdk.CollectionConverters._
      heaps.values.iterator.asScala.flatMap(_.iterator)
    }, preservesPartitioning = true)
  }
}

/** Reduce side: requires clustering on the key and a (key, ordering)
  * sort — EnsureRequirements materializes both — then emits the first k
  * rows of every key run. */
case class ExactTopKExec(keys: Seq[Attribute], ordering: Seq[SortOrder], k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: SparkPlan): ExactTopKExec =
    copy(child = newChild)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)) ++ ordering)
  override def outputOrdering: Seq[SortOrder] =
    keys.map(SortOrder(_, Ascending)) ++ ordering
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val boundKeys = keys.map(k =>
      BindReferences.bindReference(k: Expression, child.output))
    child.execute().mapPartitions ({ rows =>
      // run boundaries detected on projected UnsafeRows (byte-wise
      // equals), not Seq[Any] — see PartialTopKExec
      val keyProj = UnsafeProjection.create(boundKeys)
      var currentKey: UnsafeRow = null
      var emitted = 0
      rows.filter { r =>
        val kv = keyProj(r)
        if (currentKey == null || kv != currentKey) {
          currentKey = kv.copy(); emitted = 0
        }
        emitted += 1
        emitted <= k
      }
    }, preservesPartitioning = true)
  }
}

object GroupedTopK {

  /** Top `k` rows per `key` under `sortCols` = (name, ascending), as a
    * native operator. Installs graft's strategies on the session
    * ([[Strategies.install]]). */
  def perKey(df: DataFrame, key: String, sortCols: Seq[(String, Boolean)],
      k: Int): DataFrame = perKeys(df, Seq(key), sortCols, k)

  /** Composite-key form: top `k` per distinct `keys` tuple. */
  def perKeys(df: DataFrame, keys: Seq[String], sortCols: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    Strategies.install(spark)
    val plan = df.queryExecution.analyzed
    def attr(n: String): Attribute = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n"))
    val ordering = sortCols.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    GraftColumnBridge.ofRows(spark,
      GroupedTopKNode(keys.map(attr), ordering, k, plan))
  }
}
