package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Which analyzer rules ran in the QueryExecutions a block runs: a
  * `QueryExecutionListener` on the session gathers each action's
  * QueryExecution, and its planning tracker lists every rule that ran. A
  * plan whose analysis was skipped lists no analyzer rule. Rules the
  * optimizer also runs (`UpdateAttributeNullability`, …) are left out:
  * the tracker keys rules by name only. */
object AnalyzerRules {

  /** Each analyzer rule invoked in `qes`, with its number of invocations. */
  def of(s: SparkSession, qes: Seq[QueryExecution]): Map[String, Long] = {
    val analyzer = s.sessionState.analyzer.batches.flatMap(_.rules.map(_.ruleName)).toSet --
      s.sessionState.optimizer.batches.flatMap(_.rules.map(_.ruleName))
    qes.flatMap(_.tracker.rules.toSeq)
      .collect { case (name, r) if analyzer(name) && r.numInvocations > 0 =>
        name -> r.numInvocations }
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The body's result, the number of QueryExecutions its actions ran, and
    * [[of]] them. */
  def during[T](s: SparkSession)(body: => T): (T, Int, Map[String, Long]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    s.listenerManager.register(listener)
    val out = try {
      val r = body
      TestListenerBus.drain(s.sparkContext)
      r
    } finally s.listenerManager.unregister(listener)
    val qes = seen.asScala.toSeq
    (out, qes.size, of(s, qes))
  }
}
