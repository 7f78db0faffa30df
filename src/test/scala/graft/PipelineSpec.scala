package graft

import java.nio.file.{Files, Paths}
import scala.util.Try
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.types.{LongType, MapType, StringType, StructType}
import graft.Model._
import graft.ops.RunPipeline
import graft.sources.{FixtureTransport, Fetcher, HtmlPozoSource, PozoSource}

/** EP1 end-to-end on stub sources (reference `tests/test_pipeline.py`,
  * `tests/test_contracts.py` decision/idempotency semantics). */
class PipelineSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-pipeline").toString

  private def stub(n: String, prio: Int, montos: Map[String, Long],
      sha: String = "sha", sorteo: Long = 5417L): PozoSource = new PozoSource {
    val name = n
    val priority = prio
    def fetch(): SourcePayload = SourcePayload(
      n, prio, s"https://$n.cl/path", "2026-08-12T00:00:00Z",
      Some(sha), estimado = true, montos, Some("TestBot/1.0"),
      Some(sorteo), Some("2026-04-26"))
  }

  private def cfg(dir: String, force: Boolean = false) = RunPipeline.Config(
    workDir = dir, forcePublish = force, runId = "test-run",
    now = () => "2026-08-12T00:00:00Z")

  test("agreement → publish, artifacts written, api_version stamped") {
    val dir = tmpDir()
    val r = RunPipeline.run(spark, Seq(
      stub("a", 0, Map("Loto" -> 1000L)), stub("b", 1, Map("Loto" -> 1000L))),
      cfg(dir))
    assert(r.summary.decision.status == "publish")
    assert(r.summary.publish)
    assert(r.summary.decision.confidence == "full")
    assert(r.summary.api_version == "v1.2")
    assert(r.record.pozos_proximo == Map("Loto" -> 1000L))
    for (f <- Seq("normalized.jsonl", "state/last_run.jsonl",
        "comparison_report.json", "run_summary.json"))
      assert(Files.exists(Paths.get(dir, f)), f)
    // raw artifact per source, netloc-munged (multi-source)
    assert(Files.exists(Paths.get(dir, "raw", "a_cl.json")))
    assert(Files.exists(Paths.get(dir, "raw", "b_cl.json")))
  }

  test("disagreement beyond deviation threshold → quarantine") {
    val r = RunPipeline.run(spark, Seq(
      stub("a", 0, Map("Loto" -> 1000L)), stub("b", 1, Map("Loto" -> 2000L))),
      cfg(tmpDir()))
    assert(r.summary.decision.status == "quarantine")
    assert(!r.summary.publish)
    assert(r.report.mismatches.nonEmpty)
    assert(r.report.mismatches.head.max_deviation.contains(1.0))
  }

  test("idempotency: second identical run → skip, publish=false") {
    val dir = tmpDir()
    val sources = Seq(stub("a", 0, Map("Loto" -> 1000L)))
    val first = RunPipeline.run(spark, sources, cfg(dir))
    assert(first.summary.publish)
    val second = RunPipeline.run(spark, sources, cfg(dir))
    assert(second.summary.decision.status == "skip")
    assert(!second.summary.publish)
    assert(!second.summary.prizes_changed)
  }

  test("force publish turns skip into publish_forced") {
    val dir = tmpDir()
    val sources = Seq(stub("a", 0, Map("Loto" -> 1000L)))
    RunPipeline.run(spark, sources, cfg(dir))
    val r = RunPipeline.run(spark, sources, cfg(dir, force = true))
    assert(r.summary.decision.status == "publish_forced")
    assert(r.summary.publish)
  }

  test("sha change with same amounts is still unchanged (amount fallback)") {
    val dir = tmpDir()
    RunPipeline.run(spark, Seq(stub("a", 0, Map("Loto" -> 1000L), sha = "s1")), cfg(dir))
    val r = RunPipeline.run(spark,
      Seq(stub("a", 0, Map("Loto" -> 1000L), sha = "s2")), cfg(dir))
    assert(r.summary.decision.status == "skip")
  }

  test("failed source → degraded confidence; all failed → error") {
    val boom = new PozoSource {
      val name = "boom"; val priority = 1
      def fetch(): SourcePayload = throw new ParseError("nope")
    }
    val r = RunPipeline.run(spark,
      Seq(stub("a", 0, Map("Loto" -> 1000L)), boom), cfg(tmpDir()))
    assert(r.summary.decision.confidence == "degraded")
    assert(r.collected.map(_.source_name) == Seq("a"))

    val e = intercept[RuntimeException](
      RunPipeline.run(spark, Seq(boom), cfg(tmpDir())))
    assert(e.getMessage.contains("No sources returned data"))
  }

  test("single source → single_source confidence + requested-name raw artifact") {
    val dir = tmpDir()
    val r = RunPipeline.run(spark, Seq(stub("a", 0, Map("Loto" -> 5L))),
      cfg(dir).copy(requestedSources = Seq("openloto")))
    assert(r.summary.decision.confidence == "single_source")
    assert(Files.exists(Paths.get(dir, "raw", "openloto.json")))
  }

  test("corrupt state lines are tolerated (PERMISSIVE scan)") {
    val dir = tmpDir()
    val statePath = Paths.get(dir, "state", "last_run.jsonl")
    Files.createDirectories(statePath.getParent)
    Files.writeString(statePath, "{not json}\n\n")
    val r = RunPipeline.run(spark, Seq(stub("a", 0, Map("Loto" -> 1L))), cfg(dir))
    assert(r.summary.decision.status == "publish") // corrupt state ≠ match
  }

  test("partial state records are skipped as corrupt, not an NPE") {
    val dir = tmpDir()
    val sources = Seq(stub("a", 0, Map("Loto" -> 1L)))
    RunPipeline.run(spark, sources, cfg(dir))
    val statePath = Paths.get(dir, "state", "last_run.jsonl")
    val good = Files.readString(statePath)
    // a parseable record without provenance, and top-level JSON array
    // lines (one record per line: never expanded into their elements)
    val partial = """{"sorteo":5417,"fecha":"2026-04-26","pozos_proximo":{}}"""
    val array = s"[$partial]\n[${good.trim}]"
    Files.writeString(statePath, s"$partial\n$array\n")
    assert(RunPipeline.loadState(spark, statePath.toString).isEmpty)
    val r = RunPipeline.run(spark, sources, cfg(dir))
    assert(r.summary.decision.status == "publish") // no usable state ≠ match
    // a good line beside them is still read
    Files.writeString(statePath, s"$partial\n$array\n\n$good")
    assert(RunPipeline.loadState(spark, statePath.toString).map(_.pozos_proximo) ==
      Seq(Map("Loto" -> 1L)))
  }

  test("state read equals its from_json twin on corrupt, partial and mistyped lines") {
    val dir = tmpDir()
    RunPipeline.run(spark, Seq(stub("a", 0, Map("Loto" -> 1000L, "Recargado" -> 5L)),
      stub("b", 1, Map("Loto" -> 1200L))), cfg(dir))
    val good = Files.readString(Paths.get(dir, "state", "last_run.jsonl")).trim
    def swap(regex: String, to: String) = {
      val out = good.replaceFirst(regex, to)
      assert(out != good, regex)
      out
    }
    val lines = Seq(
      good,
      "{not json}",
      s"[$good]",
      swap("\"primary\":", "\"primary_x\":"),
      swap("\"confidence\":", "\"confidence_x\":"),
      swap("\"pozos_proximo\":", "\"pozos_x\":"),
      swap("\"pozos_proximo\":\\{[^}]*\\}", "\"pozos_proximo\":{\"x\":null}"),
      "{\"extra\":[1,{\"y\":2}],\"otra\":null," + good.drop(1),
      swap("\"confidence\":\"[^\"]*\"", "\"confidence\":5"),
      swap("\"sorteo\":5417", "\"sorteo\":\"5417\""),
      swap("\"pozos_proximo\":\\{[^}]*\\}", "\"pozos_proximo\":{\"Ñandú\":7,\"Loto Clásico\":1}"),
      "{\"año\":2026," + good.drop(1),
      "{}",
      "",
      "   ")
    def parsed(pass: graft.ops.Prepared[String]) = pass(spark, lines) { df =>
      (df.schema, df.collect().toSeq,
        df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
          case j: JsonToStructs => j.schema })))
    }
    val (schema, rows, Seq(stored)) = parsed(RunPipeline.statePass)
    val (twinSchema, twinRows, Seq(twinStored)) = parsed(StateReadOracle.statePass)
    assert(schema == twinSchema)
    assert(rows == twinRows)
    assert(rows.size == 6, rows.mkString("\n")) // the kept lines, in input order
    // the stored schema is the encoder's; the twin's made a DDL round trip,
    // which keeps no map value nullability (the parse reads both as nullable)
    val encoded = Encoders.product[NormalizedRecord].schema.add("_corrupt_record", StringType)
    assert(stored == encoded)
    assert(twinStored == StructType(encoded.map(f => if (f.name != "pozos_proximo") f
      else f.copy(dataType = MapType(StringType, LongType, valueContainsNull = true)))))

    val statePath = Paths.get(dir, "state.jsonl")
    def bothRead(content: String) = {
      Files.writeString(statePath, content)
      val (a, b) = (Try(RunPipeline.loadState(spark, statePath.toString)),
        Try(StateReadOracle.loadState(spark, statePath.toString)))
      assert(a.toEither.left.map(_.toString) == b.toEither.left.map(_.toString), content)
      a
    }
    for (line <- lines) bothRead(line + "\n")
    assert(bothRead(lines.mkString("\r\n")).isSuccess)
  }

  test("normalized artifact round-trips through the typed JSONL scan") {
    val dir = tmpDir()
    RunPipeline.run(spark, Seq(
      stub("a", 0, Map("Loto" -> 1000L, "Recargado" -> 5L)),
      stub("b", 1, Map("Loto" -> 1200L))), cfg(dir))
    val back = RunPipeline.loadState(spark, s"$dir/normalized.jsonl")
    assert(back.length == 1)
    assert(back.head.pozos_proximo == Map("Loto" -> 1000L, "Recargado" -> 5L))
    assert(back.head.provenance.pozos.primary.fuente.contains("https://a.cl/path"))
    assert(back.head.provenance.pozos.alternatives.length == 1)
  }

  test("pipeline emits spans, metrics, and lifecycle events") {
    val log = new graft.ops.Observability.BufferingLogStream
    RunPipeline.run(spark, Seq(stub("a", 0, Map("Loto" -> 1000L))),
      cfg(tmpDir()), log)
    val kinds = log.events.map(_.event).toList
    assert(kinds.head == "pipeline_start")
    assert(kinds.last == "metric")
    assert(kinds.count(_ == "span_start") == kinds.count(_ == "span_end"))
    val spans = log.events.filter(_.event == "span_end").map(_.attrs("span")).toSet
    assert(spans == Set("ingestion_orchestration", "consensus_merge"))
    assert(log.events.forall(_.correlationId == "test-run"))
    assert(log.events.exists(e => e.event == "pipeline_end" &&
      e.attrs("decision") == "publish"))
  }

  test("source-url overrides: env + CLI merge, skip drops, CLI wins") {
    val env = Map("POLLA_ALT_SOURCE_URLS" -> "openloto=https://env.cl/a, polla=skip")
    val cli = Array("--source-url", "openloto=https://cli.cl/b", "--other", "x")
    val o = Main.resolveOverrides(cli, env)
    assert(o == Map("openloto" -> "https://cli.cl/b", "polla" -> "skip"))
    val resolved = Main.applyOverrides(
      Seq("openloto" -> "https://base.cl/o", "polla" -> "https://base.cl/p"), o)
    assert(resolved == Seq("openloto" -> "https://cli.cl/b"))
  }

  test("CLI: --only filters sources, bad --retries/--timeout rejected, " +
      "--no-include-pozos warns deprecation") {
    val fixtures = "src/test/resources/fixtures/sources"
    def runMain(args: String*): (String, String) = {
      val out = new java.io.ByteArrayOutputStream()
      val err = new java.io.ByteArrayOutputStream()
      val oldErr = System.err
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      try Console.withOut(out)(Main.main(args.toArray))
      finally System.setErr(oldErr)
      (out.toString("UTF-8"), err.toString("UTF-8"))
    }
    val (onlyOut, _) = runMain("pozos", "--fixture-dir", fixtures, "--only", "openloto")
    assert(onlyOut.contains("openloto:") && !onlyOut.contains("polla:"))
    intercept[ConfigError](Main.main(Array("pozos", "--retries", "0")))
    intercept[ConfigError](Main.main(Array("pozos", "--timeout", "0")))
    // a typo'd --only must fail loudly, not run zero sources
    intercept[ConfigError](Main.main(Array("pozos", "--only", "openlotto")))
    val (_, depErr) = runMain("pozos", "--fixture-dir", fixtures, "--no-include-pozos")
    assert(depErr.contains("DEPRECATION WARNING") && depErr.contains("pozos-only"))
  }

  test("CLI run: --retries/--timeout reach the config and comparison_report.json") {
    val dir = tmpDir()
    val defaults = Main.runConfig(Array("--work-dir", dir))
    assert((defaults.retries, defaults.timeout) == ((3, 30)))
    val cfg = Main.runConfig(Array("--work-dir", dir, "--retries", "5", "--timeout", "12"))
    assert((cfg.retries, cfg.timeout) == ((5, 12)))
    val r = RunPipeline.run(spark, Seq(stub("a", 0, Map("Loto" -> 1000L))),
      cfg.copy(runId = "test-run", now = () => "2026-08-12T00:00:00Z"))
    assert((r.report.run.retries, r.report.run.timeout) == ((5, 12)))
    val report = Files.readString(Paths.get(dir, "comparison_report.json"))
    assert(report.contains("\"timeout\":12,\"retries\":5"), report)
    intercept[ConfigError](Main.runConfig(Array("--work-dir", dir, "--retries", "0")))
  }

  test("publish --summary load is missing-file tolerant, invalid-file strict") {
    assert(Main.loadSummaryDecision("/tmp/graft-no-such-summary.json").isEmpty)
    val p = java.nio.file.Files.createTempFile("graft-summary", ".json")
    java.nio.file.Files.writeString(p,
      """{"decision":{"status":"quarantine"},"publish":false}""")
    assert(Main.loadSummaryDecision(p.toString).contains("quarantine"))
    java.nio.file.Files.writeString(p, "{not json")
    intercept[Exception](Main.loadSummaryDecision(p.toString))
  }

  test("normalize_sources: dedupe, all→pozos, unknown rejected") {
    assert(RunPipeline.normalizeSources(Seq("ALL", "pozos", "pozos"), Set()) == Seq("pozos"))
    intercept[ConfigError](RunPipeline.normalizeSources(Seq("wat"), Set("openloto")))
    assert(RunPipeline.normalizeSources(Seq("openloto"), Set("openloto")) == Seq("openloto"))
  }

  test("malformed page (non-numeric amounts) raises ParseError (A2)") {
    // reference fixture `malformed_pozo.html`: $ACUMULADO / $N/A / $---
    val html = "<p>Loto Clásico: $ACUMULADO</p><p>Recargado: $N/A</p>" +
      "<p>Revancha: $---</p>"
    val t = new FixtureTransport(Map("https://x.cl/p" -> html))
    val src = new HtmlPozoSource("x", 0, "https://x.cl/p", "UA",
      new Fetcher(t), allowTotal = false)
    val e = intercept[ParseError](src.fetch())
    assert(e.errorCode == "PARSE_ERROR")
  }

  test("invalid date page: fecha is null, amounts still parse (A2)") {
    val html = "<p>Loto Clásico: $690 MILLONES</p>" +
      "<p>Próximo Sorteo: 99 de nuncabre de 20XX</p>"
    val t = new FixtureTransport(Map("https://x.cl/p" -> html))
    val src = new HtmlPozoSource("x", 0, "https://x.cl/p", "UA",
      new Fetcher(t), allowTotal = false)
    val p = src.fetch()
    assert(p.montos("Loto Clásico") == 690000000L)
    assert(p.fecha.isEmpty)
  }

  test("golden fixture source e2e (openloto shape, FIXTURES A1)") {
    val html = """<html><body>
      |<p>Loto Clásico estimado: $690 MILLONES</p>
      |<p>Recargado: $180 MILLONES</p><p>Revancha: $100 MILLONES</p>
      |<p>Desquite: $510 MILLONES</p>
      |<p>Jubilazo $1.000.000: $960 MILLONES</p>
      |<p>Total estimado: $4.300 MILLONES</p>
      |<p>Sorteo N° 5417 - Fecha Próximo Sorteo: 26 de abril de 2026</p>
      |</body></html>""".stripMargin
    val t = new FixtureTransport(Map("https://www.openloto.cl/pozo-del-loto.html" -> html))
    val src = new HtmlPozoSource("openloto", 0,
      "https://www.openloto.cl/pozo-del-loto.html", "TestBot/1.0",
      new Fetcher(t), allowTotal = false, clock = () => 0L)
    val p = src.fetch()
    assert(p.montos("Loto Clásico") == 690000000L)
    assert(p.montos("Recargado") == 180000000L)
    assert(p.montos("Revancha") == 100000000L)
    assert(p.montos("Desquite") == 510000000L)
    assert(p.montos("Jubilazo $1.000.000") == 960000000L)
    assert(p.montos("Jubilazo $500.000") == 0L)      // absent-label ⇒ 0
    assert(!p.montos.contains("Total estimado"))     // excluded
    assert(p.sorteo.contains(5417L))
    assert(p.fecha.contains("2026-04-26"))
    assert(p.sha256.exists(_.length == 64))
  }
}
