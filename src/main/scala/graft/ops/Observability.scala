package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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

  /** The correlation id's local property (reference `ContextVar`,
    * `obs.py:20-28` → `setLocalProperty`): the one label every span,
    * metric, job and stage of a run carries. */
  val LabelKey = "graft.run_id"

  /** Runs `body` under the correlation id `id`, restoring the previous one
    * after. A thread-local Spark property, so listeners see it on every
    * job and stage `body` submits, the broadcast and subquery threads
    * Spark runs them on included. */
  def labelled[T](spark: SparkSession, id: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LabelKey)
    sc.setLocalProperty(LabelKey, id)
    try body finally sc.setLocalProperty(LabelKey, prev)
  }

  def correlationId(spark: SparkSession): String =
    Option(spark.sparkContext.getLocalProperty(LabelKey)).getOrElse("n/a")

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

  /** One completed stage, labelled with the correlation id of the job
    * that submitted it, and with that job's SQL execution id
    * (`spark.sql.execution.id`; None for a job outside one), which ties
    * a stage named after an AQE or broadcast thread's call site to its
    * query. Byte counts are exact; [[json]] writes them in MB (10^6, the
    * unit of Bench's `shuffle_mb`) to 6 decimals, so a query's lines sum
    * back to its bytes. `wallSec` is submission → completion, -1 if
    * either time is missing. */
  final case class StageRecord(query: String, stageId: Int, attempt: Int,
      tasks: Int, wallSec: Double, runSec: Double, gcSec: Double,
      inputRecords: Long, shuffleReadBytes: Long, shuffleReadRecords: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      memorySpillBytes: Long, diskSpillBytes: Long, sqlExec: Option[Long],
      name: String) {
    def json: String = {
      def sec(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
      def mb(b: Long) = String.format(java.util.Locale.ROOT, "%.6f", Double.box(b / 1e6))
      s"""{"query":${jsonString(query)},"stage":$stageId,"attempt":$attempt,""" +
        s""""tasks":$tasks,"wall_sec":${sec(wallSec)},"run_sec":${sec(runSec)},""" +
        s""""gc_sec":${sec(gcSec)},"in_rec":$inputRecords,""" +
        s""""shuf_read_mb":${mb(shuffleReadBytes)},"shuf_read_rec":$shuffleReadRecords,""" +
        s""""shuf_write_mb":${mb(shuffleWriteBytes)},"shuf_write_rec":$shuffleWriteRecords,""" +
        s""""mem_spill_mb":${mb(memorySpillBytes)},"disk_spill_mb":${mb(diskSpillBytes)},""" +
        s""""sql_exec":${sqlExec.getOrElse("null")},"name":${jsonString(name)}}"""
    }
  }

  /** The one metrics collector: per correlation id ([[labelled]]), the
    * Spark jobs it started and one [[StageRecord]] per stage it
    * completed. Both are read from the submission's own properties, so
    * they are exact however late the async listener bus delivers an
    * event. Unlabelled jobs and stages (warm-up, hygiene) are not kept.
    * Read after [[QueryMetrics.drain]]: [[take]] returns and forgets the
    * stages completed so far, [[jobs]] a label's job count. */
  final class QueryMetrics extends SparkListener {
    private val jobCounts = new ConcurrentHashMap[String, AtomicInteger]()
    private val submitted = new ConcurrentHashMap[Int, (String, Option[Long])]()
    private val done = new ConcurrentLinkedQueue[StageRecord]()

    private def property(p: java.util.Properties, key: String): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(key)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      property(e.properties, LabelKey).foreach(l =>
        jobCounts.computeIfAbsent(l, _ => new AtomicInteger()).incrementAndGet())

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      property(e.properties, LabelKey).foreach(l => submitted.put(e.stageInfo.stageId,
        (l, property(e.properties, SQLExecution.EXECUTION_ID_KEY).flatMap(_.toLongOption))))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      Option(submitted.remove(si.stageId)).filter(_ => m != null).foreach { case (q, exec) =>
        val wall = (for (c <- si.completionTime; s <- si.submissionTime)
          yield (c - s) / 1e3).getOrElse(-1.0)
        done.add(StageRecord(q, si.stageId, si.attemptNumber(), si.numTasks,
          wall, m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
          m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled, m.diskBytesSpilled, exec, si.name))
      }
    }

    def jobs(label: String): Int = Option(jobCounts.get(label)).fold(0)(_.get)

    def take(): Seq[StageRecord] =
      Iterator.continually(done.poll()).takeWhile(_ != null).toVector
  }

  object QueryMetrics {
    /** Returns once every listener event posted so far has been
      * delivered: a count read after it includes every job and stage
      * that completed before the call. */
    def drain(spark: SparkSession): Unit =
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
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
