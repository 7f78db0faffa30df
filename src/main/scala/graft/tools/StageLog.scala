package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-STAGE attribution probe (r17, VERDICT items 1/5): runs declared
  * queries and prints one JSON line per completed Spark stage — wall
  * (submission→completion), executor run/GC seconds, shuffle read/write,
  * memory/disk spill, task count, and the stage's name (call site). Where
  * Bench totals a query, this needs NO per-operator harness: the
  * stage stream itself says which exchange/sort/agg owns the wall and
  * the spill — the question the graph_pagerank 285 GB/run and the
  * q20/q32/tfidf 16–17×/decade walls pose.
  *
  * Usage: StageLog <sfDir> <name1,name2,...>   (one run per query —
  * stage attribution, not min-of-N timing) */
object StageLog {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.rdd.compress",
        sys.env.getOrElse("SPARK_GRAFT_BLOCK_COMPRESS", "true"))
      .config("spark.checkpoint.compress",
        sys.env.getOrElse("SPARK_GRAFT_BLOCK_COMPRESS", "true"))
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.ui.enabled", "false")
      // same AQE advisory knob as Bench (see its comment)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.get("SPARK_GRAFT_ADVISORY_MB").map(_ + "m").getOrElse("64m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").filter(_.nonEmpty)
      .foreach(d => spark.conf.set(graft.ops.Materialize.ConfKey, d))
    @volatile var current = "warmup"
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        if (m != null && current != "warmup") {
          val wall = (for {
            c <- si.completionTime; s <- si.submissionTime
          } yield (c - s) / 1e3).getOrElse(-1.0)
          // JSONL-safe: backslashes first, quotes, then strip control
          // chars — a stage name with any of them would emit an invalid
          // line (r17 ADVICE item 3)
          val nm = si.name.replace("\\", "/").replace("\"", "'")
            .filter(c => c >= ' ' && c != 0x7f).take(120)
          println(f"""{"query":"$current","stage":${si.stageId},""" +
            f""""attempt":${si.attemptNumber},"tasks":${si.numTasks},""" +
            f""""wall_sec":$wall%.1f,"run_sec":${m.executorRunTime / 1e3}%.1f,""" +
            f""""gc_sec":${m.jvmGCTime / 1e3}%.1f,""" +
            f""""in_rec":${m.inputMetrics.recordsRead},""" +
            f""""shuf_read_mb":${m.shuffleReadMetrics.totalBytesRead / 1048576.0}%.0f,""" +
            f""""shuf_read_rec":${m.shuffleReadMetrics.recordsRead},""" +
            f""""shuf_write_mb":${m.shuffleWriteMetrics.bytesWritten / 1048576.0}%.0f,""" +
            f""""shuf_write_rec":${m.shuffleWriteMetrics.recordsWritten},""" +
            f""""mem_spill_mb":${m.memoryBytesSpilled / 1048576.0}%.0f,""" +
            f""""disk_spill_mb":${m.diskBytesSpilled / 1048576.0}%.0f,""" +
            f""""name":"$nm"}""")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val byName = graft.Queries.all.map(q => q.name -> q).toMap
    spark.read.parquet(s"$sfDir/documents.parquet").count() // warm scan/JVM
    names.foreach { name =>
      val q = byName.getOrElse(name, sys.error(s"StageLog: unknown query '$name'"))
      current = name
      val t0 = System.nanoTime()
      // same action switch as Bench (r17): noop (default) materializes
      // every output column; count() let Catalyst prune declared work
      // rows is a count-action-only field: under noop nothing is
      // counted, and reusing -1 would collide with the established
      // failure sentinel (r17 ADVICE item 4) — emit JSON null instead
      val n: Option[Long] =
        if (sys.env.get("SPARK_GRAFT_ACTION").contains("count"))
          Some(q.fn(spark, sfDir).count())
        else {
          q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          None
        }
      val wall = (System.nanoTime() - t0) / 1e9
      // let async stage-completed events drain before the summary line
      Thread.sleep(500)
      println(f"""{"query":"$name","TOTAL":true,"rows":${n.getOrElse("null")},"wall_sec":$wall%.1f}""")
      current = "warmup"
    }
    spark.stop()
  }
}
