package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, lit}

import graft.{SparkEntry, Verify}
import graft.ops.{IncrementalDedup, Observability, Publish, RunPipeline}
import graft.sources._

/** The benchmark's JVM side. `run.py` writes a JSON config, starts this
  * class, and reads back one JSON result file; all statistics are
  * computed on the Python side.
  *
  * Modes:
  *  - `setup`: start the JVM and the SparkSession, resolve the workload,
  *    stamp the ready time and exit (one set-up sample; `run.py` starts
  *    these one after another, before the `run` JVMs);
  *  - `run`: the same set-up, then the timed closed loop of one workload,
  *    then (with `dump`) the untimed output dumps that `run.py` checks;
  *  - `catalog`: build every declared query once and record which tables
  *    it reads (the catalog membership rule).
  *
  * It calls only public entry points of `graft.*`. With `trace` on it
  * also records a span tree per op and attributes Spark job/stage/task
  * metrics to ops through the `perfbench.op` local property, which every
  * job started from the op's thread inherits. */
object PerfBench {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cfg = mapper.readTree(Files.readString(Paths.get(args(0))))
    val out = mapper.createObjectNode()
    val work = Paths.get(cfg.get("work").asText())
    val spark = SparkSession.builder()
      .master(s"local[${cfg.get("cpus").asInt()}]")
      .config("spark.sql.shuffle.partitions", cfg.get("cpus").asInt().toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.rdd.compress", "true")
      .config("spark.checkpoint.compress", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val workload = Workload(cfg, spark)
    out.put("ready_ms", System.currentTimeMillis())
    cfg.get("mode").asText() match {
      case "setup" =>
      case "catalog" => catalog(spark, cfg, out)
      case "run" =>
        val trace = cfg.get("trace").asBoolean()
        val tracer = new Tracer(trace)
        val listener = new OpListener
        if (trace) spark.sparkContext.addSparkListener(listener)
        val io0 = ProcIo.wchar()
        val cpu0 = graft.tools.ProcStat.stealIowait()
        val t0 = System.nanoTime()
        val ops = workload.run(tracer, cfg.get("warm_passes").asInt())
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu1 = graft.tools.ProcStat.stealIowait()
        val ncpu = Runtime.getRuntime.availableProcessors()
        out.put("timed_s", wall)
        out.put("steal_pct", graft.tools.ProcStat.pct(cpu0, cpu1, wall, ncpu, _._1))
        out.put("iowait_pct", graft.tools.ProcStat.pct(cpu0, cpu1, wall, ncpu, _._2))
        out.put("wchar", ProcIo.wchar() - io0)
        out.put("vm_hwm_kb", ProcIo.vmHwmKb())
        out.set[JsonNode]("ops", ops)
        if (trace) {
          org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
          out.set[JsonNode]("spans", tracer.toJson(mapper))
          out.set[JsonNode]("spark", listener.toJson(mapper))
        }
        if (cfg.get("dump").asBoolean()) workload.dump()
    }
    Files.writeString(Paths.get(cfg.get("result").asText()), mapper.writeValueAsString(out))
    // nothing after the result is measured: skip SparkContext shutdown,
    // the caller deletes the run directory
    Runtime.getRuntime.halt(0)
  }

  /** Which tables each declared query reads: the leaves of every plan it
    * executes while its `fn` runs, plus the leaves of the frame it
    * returns. */
  private def catalog(spark: SparkSession, cfg: JsonNode, out: ObjectNode): Unit = {
    val data = cfg.get("data").asText()
    val tableRe = ("""([a-z]+)\.parquet""").r
    val seen = ConcurrentHashMap.newKeySet[String]()
    def leaves(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
      p.foreach { n =>
        val s = n match {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.mkString(" ")
              case r => r.toString
            }
          case other => other.simpleString(400)
        }
        tableRe.findAllMatchIn(s).foreach(m => seen.add(m.group(1)))
      }
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        leaves(qe.analyzed)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        leaves(qe.analyzed)
    })
    val res = out.putObject("reads")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      seen.clear()
      val df = fn(spark, data)
      leaves(df.queryExecution.analyzed)
      org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
      val arr = res.putArray(name)
      seen.asScala.toSeq.sorted.foreach(t => arr.add(t))
    }
  }
}

/** In-memory span tree: workload → pass → op → layer call. Spans record
  * `System.nanoTime` bounds and their parent; self time is computed from
  * the tree on the Python side. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, var parent: Int, name: String, op: String,
      t0: Long, t1: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0
  /** The op the caller is timing; spans opened inside it carry its key. */
  var currentOp = ""

  def span[T](name: String, op: String = currentOp)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, op, t0, System.nanoTime())
      }
    }

  /** Record a span the program timed itself (ends at `t1`). */
  def add(name: String, op: String, parent: Int, t1: Long, durNs: Long): Int = {
    val id = next
    next += 1
    spans += Span(id, parent, name, op, t1 - durNs, t1)
    id
  }

  def find(op: String, name: String): Option[Span] =
    spans.find(s => s.op == op && s.name == name)
  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  def toJson(m: ObjectMapper): ArrayNode = {
    val a = m.createArrayNode()
    spans.sortBy(_.id).foreach { s =>
      a.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("op", s.op).put("t0", s.t0).put("t1", s.t1)
    }
    a
  }
}

/** Spark job/stage/task totals per op, keyed by the `perfbench.op` local
  * property each job carries (not by time window). Jobs started while
  * `perfbench.phase` is `build` are the eager actions inside a query's
  * `fn`; their distinct SQL execution ids count its eager QueryExecutions. */
final class OpListener extends SparkListener {
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Array[Double]]()
  private val eager = new ConcurrentHashMap[String, java.util.Set[String]]()
  private val fields = Seq("jobs", "stages", "tasks", "task_ms", "cpu_ms",
    "gc_ms", "shuffle_write_b", "shuffle_read_b", "spill_b", "input_rows",
    "sched_delay_ms")

  private def add(op: String, field: String, v: Double): Unit =
    if (op != null) {
      val a = totals.computeIfAbsent(op, _ => new Array[Double](fields.size))
      a.synchronized { a(fields.indexOf(field)) += v }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty("perfbench.op")).orNull
    if (op != null) {
      e.stageIds.foreach(s => stageOp.putIfAbsent(s, op))
      add(op, "jobs", 1)
      val exec = e.properties.getProperty("spark.sql.execution.id")
      if (e.properties.getProperty("perfbench.phase") == "build" && exec != null)
        eager.computeIfAbsent(op, _ => ConcurrentHashMap.newKeySet[String]()).add(exec)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageOp.get(e.stageInfo.stageId), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    val m = e.taskMetrics
    if (op != null && m != null) {
      add(op, "tasks", 1)
      add(op, "task_ms", m.executorRunTime.toDouble)
      add(op, "cpu_ms", m.executorCpuTime / 1e6)
      add(op, "gc_ms", m.jvmGCTime.toDouble)
      add(op, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(op, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(op, "spill_b", m.diskBytesSpilled.toDouble)
      add(op, "input_rows", m.inputMetrics.recordsRead.toDouble)
      val info = e.taskInfo
      add(op, "sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime).toDouble)
    }
  }

  def toJson(m: ObjectMapper): ObjectNode = {
    val o = m.createObjectNode()
    totals.asScala.foreach { case (op, a) =>
      val n = o.putObject(op)
      fields.zip(a).foreach { case (f, v) => n.put(f, v) }
      n.put("eager_qes", Option(eager.get(op)).map(_.size).getOrElse(0))
    }
    o
  }
}

/** Process counters from /proc/self, -1 when unreadable. */
object ProcIo {
  private def field(file: String, key: String): Long =
    try {
      val src = scala.io.Source.fromFile(s"/proc/self/$file")
      try src.getLines().find(_.startsWith(key))
        .map(_.drop(key.length).trim.split("\\s+")(0).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }
  def wchar(): Long = field("io", "wchar:")
  def vmHwmKb(): Long = field("status", "VmHWM:")
}

/** JVM-wide counters sampled around each op: Spark codegen (count and
  * compile time), JIT compile time, GC time. */
object JvmCounters {
  def sample(): Array[Double] = {
    import java.lang.management.ManagementFactory
    Array(
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum.toDouble)
  }
  val names = Seq("codegen_compiles", "codegen_ms", "jit_ms", "gc_ms")
}

/** One workload's closed loop. `run` returns one JSON row per op. */
abstract class Workload(cfg: JsonNode, spark: SparkSession) {
  protected val mapper = new ObjectMapper()
  protected val work: Path = Paths.get(cfg.get("work").asText())
  protected val data: String = cfg.get("data").asText()
  protected val rows: ArrayNode = mapper.createArrayNode()

  /** The timed loop: one cold pass, then `warm` warm passes. */
  def run(tracer: Tracer, warm: Int): ArrayNode
  /** Untimed output dumps for run.py's checks. */
  def dump(): Unit = ()

  /** Time one op: local properties for attribution, JVM counter deltas
    * (traced only), failures recorded instead of thrown. */
  protected def op(tracer: Tracer, pass: Int, key: String, name: String)
      (body: ObjectNode => Unit): ObjectNode = {
    val row = rows.addObject().put("op", key).put("name", name).put("pass", pass)
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", key)
    tracer.currentOp = key
    val before = if (tracer.enabled) JvmCounters.sample() else null
    val t0 = System.nanoTime()
    try {
      tracer.span("op")(body(row))
      row.put("ok", true)
    } catch {
      case e: Throwable =>
        row.put("ok", false).put("error", String.valueOf(e).take(400))
    }
    row.put("ms", (System.nanoTime() - t0) / 1e6)
    if (before != null) {
      val after = JvmCounters.sample()
      JvmCounters.names.indices.foreach(i =>
        row.put("jvm." + JvmCounters.names(i), after(i) - before(i)))
    }
    sc.setLocalProperty("perfbench.op", null)
    sc.setLocalProperty("perfbench.phase", null)
    tracer.currentOp = ""
    row
  }
}

object Workload {
  def apply(cfg: JsonNode, spark: SparkSession): Workload =
    cfg.get("kind").asText() match {
      case "queries" => new QueryWorkload(cfg, spark)
      case "pipeline" => new PipelineWorkload(cfg, spark)
      case "ingest" => new IngestWorkload(cfg, spark)
      case "none" => new Workload(cfg, spark) {
        def run(tracer: Tracer, warm: Int): ArrayNode = rows
      }
    }
}

/** Declared queries in a seeded order: one cold pass, then the warm
  * passes, in the same order. Each op builds the frame
  * (`Queries.build`), optionally forces the physical plan (`plans.plan`,
  * traced only) and runs it into the `noop` sink (`spark.execute`). */
final class QueryWorkload(cfg: JsonNode, spark: SparkSession)
    extends Workload(cfg, spark) {
  private val names = cfg.get("ops").asScala.map(_.asText()).toSeq
  private val catalog = SparkEntry.queries
  // membership guard: every declared query sits in exactly one committed
  // workload list, so a new query cannot silently drop out of measurement
  private val lists = cfg.get("membership").properties().asScala
    .map(e => e.getKey -> e.getValue.asScala.map(_.asText()).toSet).toMap
  private val assigned = lists.values.toSeq.flatten
  private val unassigned = catalog.keySet -- assigned
  private val stale = assigned.toSet -- catalog.keySet
  private val twice = assigned.diff(assigned.distinct).distinct
  require(unassigned.isEmpty && stale.isEmpty && twice.isEmpty,
    s"catalog membership out of date: unassigned=${unassigned.toSeq.sorted.mkString(",")} " +
      s"stale=${stale.toSeq.sorted.mkString(",")} in-both=${twice.sorted.mkString(",")}")
  private val missing = names.filterNot(catalog.contains)
  require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

  def run(tracer: Tracer, warm: Int): ArrayNode = {
    val sc = spark.sparkContext
    for (pass <- 0 to warm) {
      tracer.span(s"pass$pass") {
        names.foreach { n =>
          op(tracer, pass, s"p$pass:$n", n) { _ =>
            sc.setLocalProperty("perfbench.phase", "build")
            val df = tracer.span("Queries.build")(catalog(n)(spark, data))
            sc.setLocalProperty("perfbench.phase", "run")
            if (tracer.enabled) tracer.span("plans.plan")(df.queryExecution.executedPlan)
            tracer.span("spark.execute")(df.write.format("noop").mode("overwrite").save())
          }
        }
      }
    }
    rows
  }

  /** The same queries once more, results to parquet in the layout
    * `graft.Verify` writes, plus their oracle SQL, for the DuckDB check. */
  override def dump(): Unit = {
    val dir = work.resolve("verify")
    Verify.dump(spark, data, dir.toString, names.map(n => n -> catalog(n)))
    val oracle = mapper.createObjectNode()
    names.foreach(n => SparkEntry.oracleSql.get(n).foreach(oracle.put(n, _)))
    Files.writeString(dir.resolve("oracle_sql.json"), mapper.writeValueAsString(oracle))
  }
}

/** EP1 cycles over generated fixture pages, one shared work dir (so the
  * state file carries from cycle to cycle): `RunPipeline.run` with the
  * two sources `graft.Main` registers, then the publish step — a `sheet`
  * write when the run says publish, a dry-run diff otherwise. Cycle 0 is
  * the cold pass; the remaining cycles are the warm pass. */
final class PipelineWorkload(cfg: JsonNode, spark: SparkSession)
    extends Workload(cfg, spark) {
  import spark.implicits._
  private val pagesDir = Paths.get(cfg.get("pages").asText())
  private val expected = mapper.readTree(pagesDir.resolve("expected.json").toFile)
  private val openlotoUrl = "https://www.openloto.cl/pozo-del-loto.html"
  private val pollaUrl = "https://www.polla.cl/es/"
  private val ua = "PollaSparkBot/1.0 (+contact@example.com)"
  private val wd = work.resolve("pipeline")
  private val sheetDir = wd.resolve("sheets").toString
  private val noChange = "(No changes detected against the current sheet)"

  /** A source whose fetch is its own span (`sources.fetch`). */
  private final class TimedSource(inner: PozoSource, tracer: Tracer) extends PozoSource {
    def name: String = inner.name
    def priority: Int = inner.priority
    def fetch(): graft.Model.SourcePayload = tracer.span("sources.fetch")(inner.fetch())
  }

  /** The registry `graft.Main run --fixture-dir` builds, fresh per cycle. */
  private def sources(cycle: Int, tracer: Tracer): Seq[PozoSource] = {
    def page(n: String) = Files.readString(pagesDir.resolve(s"cycle_$cycle/$n/page.html"))
    val fetcher = new Fetcher(
      new FixtureTransport(Map(openlotoUrl -> page("openloto"), pollaUrl -> page("polla"))),
      retries = 3, timeoutMs = 30000,
      rateLimiter = Some(new HostRateLimiter(500, System.currentTimeMillis, Thread.sleep)))
    Seq(new HtmlPozoSource("openloto", 0, openlotoUrl, ua, fetcher,
        allowTotal = false, absentAsZero = true),
      new DomPozoSource("polla", 1, pollaUrl, ua, fetcher))
      .map(new TimedSource(_, tracer))
  }

  private def amounts(n: JsonNode): Map[String, Long] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap

  def run(tracer: Tracer, warm: Int): ArrayNode = {
    var lastDecision = ""
    for (i <- 0 to warm) {
      val exp = expected.get(i)
      val key = s"c$i"
      op(tracer, math.min(i, 1), key, "cycle") { row =>
        val log = new Observability.BufferingLogStream
        val res = tracer.span("ops.RunPipeline.run") {
          RunPipeline.run(spark, sources(i, tracer),
            RunPipeline.Config(workDir = wd.toString, runId = key), log)
        }
        val diff = tracer.span("ops.Publish") {
          val rows = Publish.recordToRows(spark.createDataset(Seq(res.record)))
          if (res.summary.publish) {
            rows.select(rows.columns.map(c => coalesce(col(c).cast("string"), lit("")).as(c)): _*)
              .write.format("sheet").option("path", sheetDir)
              .option("worksheet", "canonical").mode("append").save()
            ""
          } else Publish.dryRunDiff(SheetBackend.readRows(sheetDir, "canonical"), rows)
        }
        if (tracer.enabled) programSpans(tracer, key, log)
        val status = res.summary.decision.status
        val bad = mutable.ArrayBuffer.empty[String]
        if (status != exp.get("decision").asText())
          bad += s"decision $status, expected ${exp.get("decision").asText()}"
        if (res.record.pozos_proximo != amounts(exp.get("openloto")))
          bad += s"resolved amounts ${res.record.pozos_proximo}"
        val byName = res.collected.map(p => p.source_name -> p.montos).toMap
        if (byName.get("openloto") != Some(amounts(exp.get("openloto"))))
          bad += s"openloto parsed ${byName.get("openloto")}"
        val pollaExp = amounts(exp.get("polla")).filter(_._2 > 0) +
          ("Total estimado" -> exp.get("polla_total").asLong())
        if (byName.get("polla") != Some(pollaExp))
          bad += s"polla parsed ${byName.get("polla")}"
        if (status == "skip" && lastDecision == "publish" && diff != noChange)
          bad += s"dry-run after publish shows changes: $diff"
        lastDecision = status
        row.put("decision", status)
        if (bad.nonEmpty) throw new IllegalStateException(bad.mkString("; "))
      }
    }
    rows
  }

  /** The `ingestion_orchestration` and `consensus_merge` spans that
    * `RunPipeline.run` emits into the log stream, added under the
    * benchmark's run span; the fetch spans move under the first. */
  private def programSpans(tracer: Tracer, key: String,
      log: Observability.BufferingLogStream): Unit = {
    val run = tracer.find(key, "ops.RunPipeline.run").get
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    log.events.filter(e => e.event == "span_end").foreach { e =>
      val name = e.attrs("span") match {
        case "ingestion_orchestration" => "ops.RunPipeline.ingestion_orchestration"
        case "consensus_merge" => "ops.Consensus.merge"
        case other => s"ops.RunPipeline.$other"
      }
      val t1 = java.time.Instant.parse(e.timestamp).toEpochMilli * 1000000L + offsetNs
      val id = tracer.add(name, key, run.id, t1 min run.t1,
        e.attrs("duration_ms").toLong * 1000000L)
      if (name.endsWith("ingestion_orchestration"))
        tracer.children(run.id).filter(_.name == "sources.fetch").foreach(_.parent = id)
    }
  }
}

/** A seeded stream of document batches through `IncrementalDedup.ingest`
  * (pass 0) and then `ingestNear` (pass 1), each into a fresh state root. */
final class IngestWorkload(cfg: JsonNode, spark: SparkSession)
    extends Workload(cfg, spark) {
  private val batches = cfg.get("batches").asScala.map(_.asText()).toSeq

  /** (bytes, files, versions) of a state root; versions hard-link
    * unchanged buckets, so files are counted once per inode. */
  private def diskStats(root: Path): (Long, Long, Long) = {
    val s = Files.walk(root)
    try {
      val paths = s.iterator().asScala.toSeq
      val files = paths.filter(Files.isRegularFile(_))
        .groupBy(p => Files.getAttribute(p, "unix:ino")).values.map(_.head).toSeq
      val versions = paths.count(p => Files.isDirectory(p) &&
        p.getFileName.toString.matches("v=\\d+"))
      (files.map(Files.size).sum, files.size.toLong, versions.toLong)
    } finally s.close()
  }

  /** Every batch through `IncrementalDedup.ingest` (`exact`) or
    * `ingestNear` (`near`), one op per batch, into a fresh state root;
    * accepted rows are written to parquet as `graft.Main ingest` does.
    * The state root's size on disk is sampled after every batch. */
  private def ingestPass(tracer: Tracer, pass: Int, mode: String): Unit = {
    val root = work.resolve(s"state_$mode")
    for ((path, b) <- batches.zipWithIndex) {
      val row = op(tracer, pass, s"$mode$b", mode) { row =>
        val batch = spark.read.parquet(path)
        val (accepted, version) = tracer.span(s"ops.IncrementalDedup.$mode") {
          if (mode == "exact") IncrementalDedup.ingest(spark, root.toString, batch)
          else IncrementalDedup.ingestNear(spark, root.toString, batch)
        }
        tracer.span("write") {
          accepted.write.mode("overwrite").parquet(work.resolve(s"accepted_$mode/batch_$b").toString)
        }
        row.put("version", version)
      }
      val (bytes, files, versions) = diskStats(root)
      row.put("state_bytes", bytes).put("state_files", files).put("state_versions", versions)
    }
  }

  def run(tracer: Tracer, warm: Int): ArrayNode = {
    ingestPass(tracer, 0, "exact")
    ingestPass(tracer, 1, "near")
    rows
  }
}
