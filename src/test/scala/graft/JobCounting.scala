package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts: the block runs under a tag held in
  * a thread-local Spark property, and a listener counts the jobs that carry
  * it. Each spec has its own property key, so specs never share counts. */
trait JobCounting extends SparkSpec {

  private val tagKey = s"graft.test.jobs.${getClass.getName}"
  private val jobsByTag = new ConcurrentHashMap[String, AtomicInteger]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(tagKey))).foreach(t =>
        jobsByTag.computeIfAbsent(t, _ => new AtomicInteger()).incrementAndGet())
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }
  override def afterAll(): Unit =
    try spark.sparkContext.removeSparkListener(listener) finally super.afterAll()

  /** The body's result and the number of Spark jobs it started. */
  protected def jobs[T](tag: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(tagKey, tag)
    val out = try body finally sc.setLocalProperty(tagKey, null)
    TestListenerBus.drain(sc)
    (out, Option(jobsByTag.get(tag)).map(_.get).getOrElse(0))
  }
}
