package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.{CoalesceShufflePartitions, LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** A global sort over input that AQE reads as one partition, planned as
  * that one partition sorted: `Sort(global) ← Coalesce(1)`.
  *
  * Spark plans every global `ORDER BY` as a range exchange under the
  * sort. The exchange costs two stages of its own: a `RangePartitioner`
  * sample job over the child, then the range shuffle's map stage. When
  * the child's input is a set of small shuffles, AQE has already
  * coalesced it to one partition, so the range exchange redistributes one
  * partition into one or a few, for the price of two jobs. At the suite's
  * sizes that is most global sorts.
  *
  * The strategy acts only during AQE re-planning, the one point where the
  * child's input sizes are known: every leaf of the child must be a
  * materialized shuffle stage that AQE may coalesce, and their summed map
  * output must fit the size AQE packs into one partition
  * ([[onePartitionBytes]]). AQE's cost evaluator then adopts the plan
  * because it has one shuffle fewer. Without AQE, with coalescing off, or
  * on input AQE would split, the leaves never qualify and Spark's range
  * exchange stays. The output is the same rows under the same ordering:
  * one sorted partition instead of sorted ranges. Rows that tie on every
  * sort key may come out in another order, as they may between two range
  * exchanges; the declared queries order by a unique tiebreak. */
object SinglePartitionSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if readAsOnePartition(child) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  /** Whether AQE's own coalescing would read all of `child`'s input as a
    * single partition. A leaf `LogicalQueryStage` carries either the
    * shuffle stage itself or, for an aggregate split around its
    * exchange, the final aggregate over that stage: its physical leaves
    * are the stages it reads. */
  private def readAsOnePartition(child: LogicalPlan): Boolean = {
    val conf = SQLConf.get
    val leaves = child.collectLeaves().flatMap {
      case s: LogicalQueryStage => s.physicalPlan.collectLeaves()
      case other => Seq(other)
    }
    val stages = leaves.collect {
      case s: ShuffleQueryStageExec if s.isMaterialized => s
    }
    conf.coalesceShufflePartitionsEnabled && stages.nonEmpty &&
      stages.length == leaves.length && {
        val spark = SparkSession.active
        val coalesce = CoalesceShufflePartitions(spark)
        stages.forall(s => coalesce.isSupported(s.shuffle)) && {
          val bytes = stages.flatMap(_.mapStats).map(_.bytesByPartitionId.sum).sum
          bytes <= onePartitionBytes(spark, conf, stages, bytes)
        }
      }
  }

  /** The partition size AQE's `CoalesceShufflePartitions` packs `total`
    * bytes of these stages into: `total` over the minimum partition
    * count (the default parallelism under `parallelismFirst`, else 1),
    * capped by the advisory size and floored at `minPartitionSize`. */
  private def onePartitionBytes(spark: SparkSession, conf: SQLConf,
      stages: Seq[ShuffleQueryStageExec], total: Long): Long = {
    val minPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
      .getOrElse(if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        spark.sparkContext.defaultParallelism else 1)
    val advisory = stages.map(_.advisoryPartitionSize).distinct match {
      case Seq(Some(size)) => size
      case _ => conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    }
    math.ceil(total / math.max(minPartitions, 1).toDouble).toLong
      .min(advisory)
      .max(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
  }
}

/** The planner strategies graft adds to a session, and the one way they
  * are installed: [[install]] on a session (idempotent; [[graft.Tables.load]],
  * [[graft.Session.build]] and [[GroupedTopK]] call it), or
  * [[GraftExtensions]] for every session of a cluster. */
object Strategies {
  val all: Seq[SparkStrategy] = Seq(GroupedTopKStrategy, SinglePartitionSort)

  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!all.forall(exp.extraStrategies.contains))
      // check-then-append on the session's list must be atomic:
      // concurrent callers would otherwise register a strategy twice
      synchronized {
        exp.extraStrategies = exp.extraStrategies ++ all.filterNot(exp.extraStrategies.contains)
      }
  }
}
