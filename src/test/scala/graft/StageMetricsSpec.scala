package graft

import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col
import graft.ops.Observability.{StageMetrics, jsonString}

/** The stage collector behind Bench's `shuffle_mb` and stage lines. */
class StageMetricsSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  /** Runs `body` with both the collector and a listener summing every
    * stage's shuffle writes attached; returns the collector's records
    * and that total. */
  private def collect(body: => Unit) = {
    val sc = spark.sparkContext
    val metrics = new StageMetrics
    val total = new AtomicLong()
    val all = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        total.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(metrics); sc.addSparkListener(all)
    try { body; TestListenerBus.drain(sc) }
    finally { sc.removeSparkListener(metrics); sc.removeSparkListener(all) }
    (metrics.take(), total.get())
  }

  private def oneShuffle(): Unit =
    spark.range(0, 20000, 1, 4).select((col("id") % 13).as("k"), col("id"))
      .groupBy("k").sum("id").write.format("noop").mode("overwrite").save()

  test("a one-shuffle query: ≥ 2 stage lines that parse and sum to its shuffle writes") {
    val (stages, total) = collect(StageMetrics.labelled(spark, "q_one")(oneShuffle()))
    assert(stages.size >= 2)
    assert(stages.forall(_.query == "q_one"))
    assert(total > 0)
    assert(stages.map(_.shuffleWriteBytes).sum === total)
    val lines = stages.map(s => mapper.readTree(s.json))
    assert(lines.map(_.get("query").asText).distinct === Seq("q_one"))
    // the MB fields carry every byte: their sum is the total, exactly
    val mb = lines.map(l => BigDecimal(l.get("shuf_write_mb").asText)).sum
    assert(mb * 1000000 === BigDecimal(total))
    assert(lines.map(_.get("stage").asInt).distinct.size === stages.size)
    Seq("attempt", "tasks", "wall_sec", "run_sec", "gc_sec", "in_rec",
      "shuf_read_mb", "shuf_read_rec", "shuf_write_rec", "mem_spill_mb",
      "disk_spill_mb", "name").foreach(f => assert(lines.forall(_.has(f)), f))
  }

  test("stages outside a label are not kept, and a label is restored after") {
    val sc = spark.sparkContext
    val (stages, total) = collect {
      oneShuffle()
      StageMetrics.labelled(spark, "outer") {
        StageMetrics.labelled(spark, "inner")(oneShuffle())
        oneShuffle()
      }
      assert(sc.getLocalProperty(StageMetrics.QueryKey) === null)
    }
    assert(stages.map(_.query).distinct.sorted === Seq("inner", "outer"))
    val labelled = stages.map(_.shuffleWriteBytes).sum
    assert(labelled > 0 && labelled < total)
  }

  test("a stage name with a quote, backslash and control char round-trips through JSON") {
    val site = "a\"b\\c\u0007"
    val sc = spark.sparkContext
    val (stages, _) = collect {
      sc.setCallSite(site)
      try StageMetrics.labelled(spark, "q\tname")(oneShuffle())
      finally sc.clearCallSite()
    }
    assert(stages.nonEmpty)
    stages.foreach { s =>
      val l = mapper.readTree(s.json)
      assert(l.get("name").asText === site)
      assert(l.get("query").asText === "q\tname")
    }
  }

  test("jsonString escapes every control char and nothing printable") {
    val all = (0 until 0x80).map(_.toChar).mkString + "ñ€😀"
    assert(mapper.readTree(jsonString(all)).asText === all)
    assert(jsonString("\r\t\n") === "\"\\r\\t\\n\"")
    assert(jsonString("a'b/c") === "\"a'b/c\"")
  }
}
