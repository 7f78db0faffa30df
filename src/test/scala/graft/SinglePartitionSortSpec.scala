package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** [[plans.SinglePartitionSort]]: a global sort over small AQE stages
  * runs as one sorted partition, with no range-sample job and no range
  * exchange, and only where AQE itself would read the input as one
  * partition. */
class SinglePartitionSortSpec extends JobCounting {
  private val d = sf("sf0.001")
  private val probes = Seq(
    "q25_sessionize" -> 2, "q41_topk_perkey" -> 2, "q54_skew_salted_join" -> 3)

  private def query(s: SparkSession, name: String): DataFrame =
    Queries.all.find(_.name == name).get.fn(s, d)

  /** The plan the last action ran: AQE's final plan, stages included. */
  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }
  private def rangeExchange(df: DataFrame): Boolean =
    finalPlan(df).treeString.contains("rangepartitioning")

  /** The rows of `name` under the session's own confs. */
  private def rows(s: SparkSession, name: String): (Array[Row], DataFrame) = {
    val df = query(s, name)
    (df.collect(), df)
  }

  test("q25, q41 and q54 sort as one partition: no range exchange, fewer jobs") {
    for ((name, budget) <- probes) {
      query(spark, name) // tables read once, so the count below is the run's
      val df = query(spark, name)
      val (_, n) = jobs(name)(df.collect())
      assert(!rangeExchange(df), s"$name keeps a range exchange:\n${finalPlan(df)}")
      assert(finalPlan(df).treeString.contains("Coalesce 1"), s"$name:\n${finalPlan(df)}")
      assert(n === budget, s"$name ran $n jobs")
    }
  }

  test("the range exchange stays where AQE would not read one partition") {
    val cases = Seq(
      "AQE off" -> Map("spark.sql.adaptive.enabled" -> "false"),
      "coalescing off" -> Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false"),
      "AQE splits the input" -> Map("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b"))
    for ((name, _) <- probes) {
      val (expected, df) = rows(spark, name)
      assert(!rangeExchange(df), name)
      for ((label, confs) <- cases) {
        val s = spark.newSession()
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        val (got, other) = rows(s, name)
        assert(rangeExchange(other), s"$name, $label: no range exchange:\n${finalPlan(other)}")
        assert(got.toSeq === expected.toSeq, s"$name, $label: rows or order differ")
      }
    }
  }
}
