package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.expressions.{ILike, InitCap, Lower, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import graft.Model._
import graft.ops.{Consensus, Publish, RunPipeline}
import graft.sources.{PozoSource, SheetBackend}

/** The EP1 cycle's Spark job and analysis budget, and the byte encoding of
  * its single-record artifacts. At the paper's size (about nine categories
  * × two sources) a cycle's time is Spark's fixed cost per job and per
  * plan, so those counts are the figures to hold: a warm `RunPipeline.run`
  * runs no job (its consensus and artifacts fold at plan time) and no
  * analyzer rule (its plans are analysed once per session), and a publish
  * step runs no job either (its rows are a local relation that the sheet
  * write and the dry-run diff read on the driver). */
class PipelineJobBudgetSpec extends JobCounting {

  private def stub(n: String, prio: Int, montos: Map[String, Long],
      sha: Option[String] = Some("sha"), ua: Option[String] = Some("TestBot/1.0"),
      sorteo: Option[Long] = Some(5417L)): PozoSource = new PozoSource {
    val name = n
    val priority = prio
    def fetch(): SourcePayload = SourcePayload(
      n, prio, s"https://$n.cl/path", "2026-08-12T00:00:00Z",
      sha, estimado = true, montos, ua, sorteo, Some("2026-04-26"))
  }

  private def cfg(dir: String, runId: String) = RunPipeline.Config(
    workDir = dir, runId = runId, now = () => "2026-08-12T00:00:00Z")

  private val sources = Seq(
    stub("openloto", 0, Map("Loto Clásico" -> 690000000L, "Recargado" -> 180000000L,
      "Jubilazo $1.000.000" -> 960000000L, "Revancha" -> 0L)),
    stub("polla", 1, Map("Loto Clásico" -> 690000000L, "Recargado" -> 190000000L,
      "Total estimado" -> 4300000000L)))

  private def toJson[T: Encoder](v: T): String =
    spark.createDataset(Seq(v)).toJSON.head() + "\n"

  test("warm EP1 cycle, its sheet write and its dry-run diff run no Spark job") {
    val dir = Files.createTempDirectory("graft-budget").toString
    RunPipeline.run(spark, sources, cfg(dir, "budget-cold"))
    // the warm cycle reads the state the cold one wrote; its jobs carry its run id
    val (res, runJobs) =
      jobsUnder("budget-warm")(RunPipeline.run(spark, sources, cfg(dir, "budget-warm")))
    assert(res.summary.decision.status == "skip")
    assert(runJobs == 0, s"RunPipeline.run started $runJobs jobs")

    import spark.implicits._
    val sheetDir = Paths.get(dir, "sheets").toString
    val (_, writeJobs) = jobs("write") {
      val rows = Publish.recordToRows(spark.createDataset(Seq(res.record)))
      rows.select(rows.columns.toSeq.map(c => coalesce(col(c).cast("string"), lit("")).as(c)): _*)
        .write.format("sheet").option("path", sheetDir)
        .option("worksheet", "canonical").mode("append").save()
    }
    assert(writeJobs == 0, s"sheet write started $writeJobs jobs")
    val (diff, diffJobs) = jobs("dry-run")(Publish.dryRunDiff(
      SheetBackend.readRows(sheetDir, "canonical"),
      Publish.recordToRows(spark.createDataset(Seq(res.record)))))
    assert(diffJobs == 0, s"dry-run diff started $diffJobs jobs")
    assert(diff == "(No changes detected against the current sheet)")
  }

  test("warm EP1 cycle runs no analyzer rule; the cold cycles analyse its three plans") {
    // a new session, so its first cycles analyse whatever ran before
    val s = spark.newSession()
    val dir = Files.createTempDirectory("graft-analysis").toString
    val (_, _, cold) = AnalyzerRules.during(s) {
      RunPipeline.run(s, sources, cfg(dir, "analysis-1"))
      RunPipeline.run(s, sources, cfg(dir, "analysis-2")) // the first state read
    }
    assert(cold.contains("org.apache.spark.sql.catalyst.analysis.Analyzer$ResolveReferences"),
      s"the cold cycles ran no analysis: $cold")
    val ((res, runJobs), qes, warm) = AnalyzerRules.during(s)(
      jobsUnder("analysis-warm")(RunPipeline.run(s, sources, cfg(dir, "analysis-warm"))))
    assert(res.summary.decision.status == "skip")
    assert(runJobs == 0, s"RunPipeline.run started $runJobs jobs")
    assert(qes == 3, s"RunPipeline.run ran $qes QueryExecutions")
    assert(warm.isEmpty, s"analyzer rules in a warm cycle: $warm")
  }

  /** The Spark case-mapping nodes of `plan`, lambda bodies included. */
  private def caseMappings(plan: LogicalPlan): Seq[String] =
    plan.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: Lower | _: Upper | _: InitCap | _: ILike) => e.nodeName
    }))

  test("the EP1 plans evaluate no Spark case mapping (lower, upper, initcap, ilike)") {
    // The first of these a JVM evaluates runs CollationAwareUTF8String's
    // static initializer, which calls ICU once for each of the 1,114,112
    // code points to build a title-case table: about 1.4 s inside the
    // plan-time fold of the first cycle of every `graft.Main run`. Case
    // folding in these plans is ASCII regex (`Consensus.notTotal`) or
    // driver-side `String.toLowerCase`.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-casemap").toString
    val res = RunPipeline.run(spark, sources, cfg(dir, "casemap"))
    val plans = Seq(
      "consensusPass" -> RunPipeline.consensusPass(spark, Seq(Tuple1(res.collected)))(
        _.queryExecution.analyzed),
      "statePass" -> RunPipeline.statePass(spark, Seq(toJson(res.record)))(
        _.queryExecution.analyzed),
      "artifactsPass" -> RunPipeline.artifactsPass(spark, Seq((res.record, res.report,
        res.summary)))(_.queryExecution.analyzed),
      "recordToRows" -> Publish.recordCells(spark.createDataset(Seq(res.record)))
        .queryExecution.analyzed)
    for ((name, plan) <- plans)
      assert(caseMappings(plan).isEmpty, s"$name evaluates ${caseMappings(plan)}")
    // the walk does see a case mapping where one is
    val reference = ConsensusOracle.merge(sources.map(_.fetch()).toDS().toDF())
    assert(caseMappings(reference.queryExecution.analyzed).contains("Lower"))
  }

  test("a fresh-JVM `graft.Main run` that reads state loads no SQL parser") {
    // The first SQL parse in a JVM loads about 1,000 ANTLR and parser
    // classes, and a nested DDL schema adds a DFA warm-up of about 300 ms:
    // paid by every daily `run` if its consensus casts by type name or its
    // state read hands `from_json` a schema that reaches the analyzer as
    // DDL. So these paths cast by DataType and build the JSON parse over
    // the encoder's StructType.
    val dir = Files.createTempDirectory("graft-parser")
    RunPipeline.run(spark, sources, cfg(dir.toString, "parser-state"))
    assert(Files.exists(dir.resolve("state/last_run.jsonl")))
    val loaded = ChildJvm.classesLoaded(dir, "graft.Main", "run", "--work-dir", dir.toString,
      "--fixture-dir", "src/test/resources/fixtures/sources")
    if (loaded.contains(ChildJvm.Parser)) fail(s"${ChildJvm.Parser} loaded (see $dir)")
  }

  test("Consensus.merge over a DataFrame runs at most 2 Spark jobs") {
    import spark.implicits._
    val payloads = sources.map(_.fetch()).toDS().toDF()
    val (rows, n) = jobs("merge")(Consensus.merge(payloads).collect())
    assert(rows.map(_.getAs[String]("categoria")).toSeq ==
      Seq("Jubilazo $1.000.000", "Loto Clásico", "Recargado", "Revancha"))
    assert(n <= 2, s"Consensus.merge started $n jobs")
  }

  test("every artifact is byte-identical to the Dataset.toJSON encoding") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bytes").toString
    val withNones = Seq(
      stub("a", 0, Map("Loto Clásico" -> 1000L, "say \"hi\"" -> 5L, "Ñandú" -> 7L),
        sha = None, ua = None, sorteo = None),
      stub("b", 1, Map("Loto Clásico" -> 1200L)),
      stub("c", 2, Map.empty))
    val r = RunPipeline.run(spark, withNones, cfg(dir, "bytes"))
    def read(f: String) = Files.readString(Paths.get(dir, f))
    for (p <- r.collected)
      assert(read(s"raw/${p.source_name}_cl.json") == toJson(p), p.source_name)
    assert(read("normalized.jsonl") == toJson(r.record))
    assert(read("state/last_run.jsonl") == toJson(r.record))
    assert(read("comparison_report.json") == toJson(r.report))
    assert(read("run_summary.json") == toJson(r.summary))
    // the report carries a None max_deviation (a missing-only mismatch)
    assert(r.report.mismatches.exists(_.max_deviation.isEmpty))

    val withPremios = r.record.copy(fuente = None, pozos_proximo = Map.empty,
      premios = Seq(Premio("6 aciertos", 900L, 0L), Premio("Tómbola", 1L, 3L)))
    assert(RunPipeline.artifactLines(spark, withPremios, r.report, r.summary) ==
      Seq(toJson(withPremios), toJson(r.report), toJson(r.summary)))
  }
}
