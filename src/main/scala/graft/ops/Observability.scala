package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftError

/** Observability operators (reference `polla_app/obs.py`, SURVEY §2.11):
  * structured JSONL-style events with correlation id, spans with
  * durations, counters, and redaction — mapped to Spark's listener and
  * local-property machinery plus a *plan-time* sanitize projection
  * (schema-driven, not a runtime reflection walk).
  */
object Observability {

  case class Event(event: String, timestamp: String, correlationId: String,
      attrs: Map[String, String])

  /** `s` as a quoted JSON string: backslash, quote and every control
    * char (< 0x20) escaped — a tab or CR in builder-authored SQL, or a
    * quote in a Spark call site, would otherwise make a reader's
    * `json.loads` fail. The one escaper for every JSON file the program
    * writes (`oracle_sql.json`, `_failed.json`, `pipeline.jsonl`, the
    * bench's stage lines). */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Pluggable structured-log sink (the reference's `LogStream` protocol,
    * `pipeline.py:26-31`). */
  trait LogStream {
    def emit(e: Event): Unit
    def close(): Unit = ()
  }

  final class BufferingLogStream extends LogStream {
    val events = scala.collection.mutable.ListBuffer[Event]()
    def emit(e: Event): Unit = events.synchronized { events += e }
  }

  /** Append-only JSONL file sink (reference `_JSONLogStream`,
    * `pipeline.py:228-254`). */
  final class JsonlLogStream(path: java.nio.file.Path) extends LogStream {
    java.nio.file.Files.createDirectories(path.getParent)
    private val w = java.nio.file.Files.newBufferedWriter(path,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    def emit(e: Event): Unit = synchronized {
      val attrs = e.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
        .mkString("{", ", ", "}")
      w.write(s"""{"event": ${jsonString(e.event)}, """ +
        s""""timestamp": ${jsonString(e.timestamp)}, """ +
        s""""correlation_id": ${jsonString(e.correlationId)}, "attrs": $attrs}\n""")
      w.flush()
    }
    override def close(): Unit = w.close()
  }

  private val CorrelationKey = "graft.run_id"

  /** Set the correlation id on the Spark context (reference `ContextVar`,
    * `obs.py:20-28` → `setLocalProperty`, visible to listeners + tasks). */
  def setCorrelationId(spark: SparkSession, runId: String): Unit =
    spark.sparkContext.setLocalProperty(CorrelationKey, runId)

  def correlationId(spark: SparkSession): String =
    Option(spark.sparkContext.getLocalProperty(CorrelationKey)).getOrElse("n/a")

  /** span(name) { ... } → span_start/span_end events with duration_ms
    * (reference `obs.py:67-91`). */
  def span[T](spark: SparkSession, log: LogStream, name: String,
      attrs: Map[String, String] = Map.empty,
      now: () => String = () => java.time.Instant.now().toString)(body: => T): T = {
    val cid = correlationId(spark)
    log.emit(Event("span_start", now(), cid, attrs + ("span" -> name)))
    val t0 = System.nanoTime()
    try {
      val r = body
      log.emit(Event("span_end", now(), cid, attrs +
        ("span" -> name, "status" -> "ok",
          "duration_ms" -> ((System.nanoTime() - t0) / 1e6).round.toString)))
      r
    } catch {
      case e: Throwable =>
        val ctx = e match {
          case g: GraftError => g.sanitizedContext + ("error_code" -> g.errorCode)
          case _ => Map("error" -> String.valueOf(e.getMessage))
        }
        log.emit(Event("span_end", now(), cid, attrs ++ ctx +
          ("span" -> name, "status" -> "error",
            "duration_ms" -> ((System.nanoTime() - t0) / 1e6).round.toString)))
        throw e
    }
  }

  /** Counter event (reference `metric(...)`, `obs.py:94-107`). */
  def metric(spark: SparkSession, log: LogStream, name: String, value: Long,
      kind: String = "counter", tags: Map[String, String] = Map.empty,
      now: () => String = () => java.time.Instant.now().toString): Unit =
    log.emit(Event("metric", now(), correlationId(spark),
      tags + ("name" -> name, "kind" -> kind, "value" -> value.toString)))

  /** Listener that turns every completed action into a structured event
    * with wall-clock duration — the engine-level span stream. */
  final class ActionListener(log: LogStream) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      log.emit(Event("query_end", java.time.Instant.now().toString,
        Option(qe.sparkSession.sparkContext.getLocalProperty(CorrelationKey))
          .getOrElse("n/a"),
        Map("action" -> funcName, "status" -> "ok",
          "duration_ms" -> (durationNs / 1e6).round.toString)))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      log.emit(Event("query_end", java.time.Instant.now().toString,
        Option(qe.sparkSession.sparkContext.getLocalProperty(CorrelationKey))
          .getOrElse("n/a"),
        Map("action" -> funcName, "status" -> "error",
          "error" -> String.valueOf(e.getMessage))))
  }

  /** One completed stage, labelled with the query whose job submitted it.
    * Byte counts are exact; [[json]] writes them in MB (10^6, the unit of
    * Bench's `shuffle_mb`) to 6 decimals, so a query's lines sum back to
    * its bytes. `wallSec` is submission → completion, -1 if either time
    * is missing. */
  final case class StageRecord(query: String, stageId: Int, attempt: Int,
      tasks: Int, wallSec: Double, runSec: Double, gcSec: Double,
      inputRecords: Long, shuffleReadBytes: Long, shuffleReadRecords: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      memorySpillBytes: Long, diskSpillBytes: Long, name: String) {
    def json: String = {
      def sec(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
      def mb(b: Long) = String.format(java.util.Locale.ROOT, "%.6f", Double.box(b / 1e6))
      s"""{"query":${jsonString(query)},"stage":$stageId,"attempt":$attempt,""" +
        s""""tasks":$tasks,"wall_sec":${sec(wallSec)},"run_sec":${sec(runSec)},""" +
        s""""gc_sec":${sec(gcSec)},"in_rec":$inputRecords,""" +
        s""""shuf_read_mb":${mb(shuffleReadBytes)},"shuf_read_rec":$shuffleReadRecords,""" +
        s""""shuf_write_mb":${mb(shuffleWriteBytes)},"shuf_write_rec":$shuffleWriteRecords,""" +
        s""""mem_spill_mb":${mb(memorySpillBytes)},"disk_spill_mb":${mb(diskSpillBytes)},""" +
        s""""name":${jsonString(name)}}"""
    }
  }

  /** The stage collector: one [[StageRecord]] per completed stage whose
    * job ran inside [[StageMetrics.labelled]]. The label travels as a
    * local property, so it is read from the stage's own submission —
    * exact however late the async listener bus delivers the completion,
    * and inherited by the broadcast and subquery threads Spark runs a
    * query's jobs on. Unlabelled stages (warm-up, hygiene) are not kept.
    * [[take]] returns and forgets what has completed so far; call it once
    * the bus has drained. */
  final class StageMetrics extends SparkListener {
    private val labels =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val done =
      new java.util.concurrent.ConcurrentLinkedQueue[StageRecord]()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(StageMetrics.QueryKey)))
        .foreach(q => labels.put(e.stageInfo.stageId, q))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      Option(labels.remove(si.stageId)).filter(_ => m != null).foreach { q =>
        val wall = (for (c <- si.completionTime; s <- si.submissionTime)
          yield (c - s) / 1e3).getOrElse(-1.0)
        done.add(StageRecord(q, si.stageId, si.attemptNumber(), si.numTasks,
          wall, m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
          m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled, m.diskBytesSpilled, si.name))
      }
    }

    def take(): Seq[StageRecord] =
      Iterator.continually(done.poll()).takeWhile(_ != null).toVector
  }

  object StageMetrics {
    val QueryKey = "graft.query"

    /** Runs `body` with its Spark jobs' stages labelled `query`. */
    def labelled[T](spark: SparkSession, query: String)(body: => T): T = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(QueryKey)
      sc.setLocalProperty(QueryKey, query)
      try body finally sc.setLocalProperty(QueryKey, prev)
    }
  }

  /** Redaction expression (reference `exceptions.py:78-93`). */
  def redactCol(c: Column): Column =
    when(c.isNull, lit(null).cast(StringType))
      .when(length(c) <= 6, lit("…"))
      .otherwise(concat(substring(c, 1, 4), lit("…"), substring(c, -2, 2)))

  /** Schema-driven sanitize: rebuild the projection redacting every
    * STRING field whose name matches the sensitive predicate, recursing
    * through structs (reference's runtime dict walk `obs.py:44-64`, done
    * once at plan time — zero per-row reflection). */
  def sanitize(df: DataFrame): DataFrame = {
    def rebuild(c: Column, dt: DataType, name: String): Column = dt match {
      case StringType if GraftError.sensitive(name) => redactCol(c)
      case s: StructType =>
        when(c.isNull, lit(null).cast(s)).otherwise(
          struct(s.fields.toSeq.map(f =>
            rebuild(c.getField(f.name), f.dataType, f.name).as(f.name)): _*))
      case _ => c
    }
    df.select(df.schema.fields.toSeq.map(f =>
      rebuild(col(f.name), f.dataType, f.name).as(f.name)): _*)
  }
}
