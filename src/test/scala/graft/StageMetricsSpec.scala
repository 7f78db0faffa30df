package graft

import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col
import graft.ops.Observability.{LabelKey, QueryMetrics, StageRecord, jsonString,
  labelled}

/** The collector behind Bench's `shuffle_mb` and stage lines and the
  * specs' job counts. */
class StageMetricsSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  /** Runs `body` with both the collector and a listener summing every
    * stage's shuffle writes attached; returns the collector's records,
    * that total and the collector. */
  private def collect(body: => Unit): (Seq[StageRecord], Long, QueryMetrics) = {
    val sc = spark.sparkContext
    val metrics = new QueryMetrics
    val total = new AtomicLong()
    val all = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        total.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    QueryMetrics.drain(spark)
    sc.addSparkListener(metrics); sc.addSparkListener(all)
    try { body; QueryMetrics.drain(spark) }
    finally { sc.removeSparkListener(metrics); sc.removeSparkListener(all) }
    (metrics.take(), total.get(), metrics)
  }

  private def oneShuffle(): Unit =
    spark.range(0, 20000, 1, 4).select((col("id") % 13).as("k"), col("id"))
      .groupBy("k").sum("id").write.format("noop").mode("overwrite").save()

  test("a one-shuffle query: ≥ 2 stage lines that parse and sum to its shuffle writes") {
    val (stages, total, _) = collect(labelled(spark, "q_one")(oneShuffle()))
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
      "disk_spill_mb", "sql_exec", "name").foreach(f => assert(lines.forall(_.has(f)), f))
    // one noop write is one SQL execution, and every stage names it
    assert(lines.map(_.get("sql_exec")).forall(_.isIntegralNumber))
    assert(lines.map(_.get("sql_exec").asLong).distinct.size === 1)
  }

  test("stages outside a label are not kept, and a label is restored after") {
    val sc = spark.sparkContext
    val (stages, total, _) = collect {
      oneShuffle()
      labelled(spark, "outer") {
        labelled(spark, "inner")(oneShuffle())
        oneShuffle()
      }
      assert(sc.getLocalProperty(LabelKey) === null)
    }
    assert(stages.map(_.query).distinct.sorted === Seq("inner", "outer"))
    val kept = stages.map(_.shuffleWriteBytes).sum
    assert(kept > 0 && kept < total)
  }

  test("jobs are counted per id, each under its innermost id") {
    val (_, _, metrics) = collect {
      spark.range(10).collect()
      labelled(spark, "two") {
        spark.range(10).collect()
        labelled(spark, "nested")(oneShuffle())
        spark.range(10).collect()
      }
    }
    assert(metrics.jobs("two") === 2)
    assert(metrics.jobs("nested") >= 1)
    assert(metrics.jobs("none") === 0)
  }

  test("a stage name with a quote, backslash and control char round-trips through JSON") {
    val site = "a\"b\\c\u0007"
    val sc = spark.sparkContext
    val (stages, _, _) = collect {
      sc.setCallSite(site)
      try labelled(spark, "q\tname")(oneShuffle())
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
