package graft.ops

import java.lang.ref.WeakReference
import org.apache.spark.sql.{DataFrame, Encoder, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}

/** A plan over rows of `I`, analysed once and run on new rows.
  *
  * The first call builds `build` over a local relation of its rows and
  * analyses it like any DataFrame; the analysed plan, with its rows taken
  * out, is kept for that `SparkSession` and its `spark.conf.getAll`. A new
  * session or a conf change builds and analyses again, and only the last
  * (session, conf) plan is kept; the session is held weakly, so a stopped
  * one can be collected. Every other call serializes its rows with one
  * serializer, swaps them into the kept plan's local relation and runs the
  * plan with analysis skipped. The optimizer (which folds a projection
  * over the local relation at plan time), the physical planner and the
  * action run as for any DataFrame, so every value is computed by the same
  * Spark expressions as a plan built and analysed per call.
  *
  * Only a session that runs the plan more than once gains: its first call
  * costs what a plan built per call costs.
  *
  * Calls on one `Prepared` run one at a time, across every session of the
  * JVM: the serializer reuses its output row, and the kept plan's
  * expressions carry evaluation state (lambda variables, JSON writers)
  * that the driver-side fold of one call would share with another's.
  */
final class Prepared[I](encoder: Encoder[I], build: DataFrame => DataFrame) {

  private val serializer = encoderFor(encoder).createSerializer()
  private var kept: Prepared.Analysed = _

  /** `action` over `build` applied to `rows`. */
  def apply[T](spark: SparkSession, rows: Seq[I])(action: DataFrame => T): T = synchronized {
    val conf = spark.conf.getAll
    val k = kept
    action(if (k != null && (k.spark.get eq spark) && k.conf == conf) {
      val data = rows.map(serializer(_).copy())
      GraftColumnBridge.ofAnalyzed(spark, k.plan.transformUp {
        case r: LocalRelation if r eq k.relation => r.copy(data = data)
      })
    } else {
      val df = build(spark.createDataset(rows)(encoder).toDF())
      val plan = df.queryExecution.analyzed
      val Seq(relation) = plan.collect { case r: LocalRelation => r }
      val empty = relation.copy(data = Nil)
      kept = Prepared.Analysed(new WeakReference(spark), conf, empty,
        plan.transformUp { case r: LocalRelation if r eq relation => empty })
      df
    })
  }
}

object Prepared {
  private final case class Analysed(spark: WeakReference[SparkSession],
      conf: Map[String, String], relation: LocalRelation, plan: LogicalPlan)
}
