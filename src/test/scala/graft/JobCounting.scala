package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.ops.Observability.{QueryMetrics, labelled}

/** Counts the Spark jobs a block starts with the program's collector,
  * [[QueryMetrics]]: the block runs under a correlation id, and the
  * collector counts the jobs that carry it. */
trait JobCounting extends SparkSpec {

  private val metrics = new QueryMetrics
  private val calls = new AtomicInteger()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(metrics)
  }
  override def afterAll(): Unit =
    try spark.sparkContext.removeSparkListener(metrics) finally super.afterAll()

  /** The body's result and the number of Spark jobs it started, under an
    * id of this call's own. */
  protected def jobs[T](tag: String)(body: => T): (T, Int) =
    jobsUnder(s"${getClass.getName}/$tag/${calls.incrementAndGet()}")(body)

  /** The body's result and the number of Spark jobs started under the
    * correlation id `id`, which the body runs under: for a body that sets
    * its own, as `RunPipeline.run` sets its run id, pass that id. */
  protected def jobsUnder[T](id: String)(body: => T): (T, Int) = {
    val out = labelled(spark, id)(body)
    QueryMetrics.drain(spark)
    (out, metrics.jobs(id))
  }
}
