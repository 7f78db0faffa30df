package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.scalacheck.{Prop, Test => SCTest}
import graft.Model._
import graft.ops.{Consensus, RunPipeline}

/** The EP1 cycle's [[graft.ops.Prepared]] plans, analysed once per session
  * and conf and run on each cycle's rows, against the same plans built and
  * analysed per call. */
class PreparedSpec extends SparkSpec {
  import ConsensusPropertySpec.{Payload, payloadSet}

  private def collected(ps: Seq[Payload]): Seq[SourcePayload] = ps.map { case (n, prio, m) =>
    SourcePayload(n, prio, s"https://$n.cl/", "2026-08-12T00:00:00Z", Some(s"sha-$n"),
      estimado = true, m, Some("TestBot/1.0"), Some(5417L), Some("2026-04-26"))
  }

  /** The rows a plan folds to, as the bytes of Spark's own row format. */
  private def bits(df: DataFrame): Seq[Seq[Byte]] =
    df.queryExecution.executedPlan.executeCollect().toSeq.map {
      case u: UnsafeRow => u.getBytes.toSeq
    }

  /** The consensus pass built and analysed on this call. */
  private def direct(s: SparkSession, ps: Seq[SourcePayload]): Seq[Seq[Byte]] = {
    import s.implicits._
    bits(Seq(Tuple1(ps)).toDF("p")
      .select(Consensus.mergeAll(col("p")), transform(col("p"), p => to_json(p))))
  }

  /** The prepared consensus pass: its rows, and the analyzer rules that
    * ran on this call. */
  private def prepared(s: SparkSession,
      ps: Seq[SourcePayload]): (Seq[Seq[Byte]], Map[String, Long]) =
    RunPipeline.consensusPass(s, Seq(Tuple1(ps)))(df =>
      (bits(df), AnalyzerRules.of(s, Seq(df.queryExecution))))

  private def toJson[T: Encoder](v: T): String =
    spark.createDataset(Seq(v)).toJSON.head() + "\n"

  test("the prepared consensus pass is bit-identical to the direct one on random payloads") {
    val prop = Prop.forAll(payloadSet) { ps =>
      val (got, _) = prepared(spark, collected(ps))
      val want = direct(spark, collected(ps))
      Prop(got.nonEmpty && got == want) :| s"payloads=$ps"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("the prepared artifacts pass is bit-identical to Dataset.toJSON, call after call") {
    import spark.implicits._
    val desc = SourceDesc(Some("https://a.cl/"), None, None, None, estimado = true, None, None)
    val record = NormalizedRecord(sorteo = None, fecha = Some("2026-04-26"), fuente = None,
      confidence = "degraded",
      premios = Seq(Premio("6 aciertos", 900L, 0L), Premio("Tómbola", 1L, 3L)),
      pozos_proximo = Map("Ñandú" -> 7L, "say \"hi\"" -> 5L),
      provenance = Provenance(PozosProvenance(desc, Seq(desc.copy(sha256 = Some("x"))))))
    val decision = Decision("quarantine", "degraded", 2L, 1L, "mismatch \"ratio\" 0.5")
    val report = Report(RunInfo("r1", "2026-08-12T00:00:00Z", Seq("pozos"), 30, 3, false),
      LastDraw(None, Some("2026-04-26")), decision,
      Seq(Mismatch("Ñandú", Map("7" -> Seq("a")), Map("8" -> Seq("b")), Some(0.125), Seq("c")),
        Mismatch("say \"hi\"", Map("5" -> Seq("a")), Map.empty, None, Seq("b"))),
      ApiVersion)
    val summary = Summary("r1", "2026-08-12T00:00:00Z", decision, prizes_changed = true,
      publish = false, publish_reason = "quarantine", api_version = ApiVersion)
    val values = Seq((record, report, summary),
      (record.copy(premios = Seq.empty, pozos_proximo = Map.empty, confidence = "full"),
        report.copy(mismatches = Seq.empty), summary.copy(run_id = "r2", publish = true)),
      (record, report, summary))
    for ((rec, rep, sum) <- values)
      assert(RunPipeline.artifactLines(spark, rec, rep, sum) ==
        Seq(toJson(rec), toJson(rep), toJson(sum)))
  }

  test("the state read binds every line of each call") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-prepared")
    val desc = SourceDesc(Some("https://a.cl/"), None, None, None, estimado = true, None, None)
    val records = (1 to 3).map(i => NormalizedRecord(Some(i.toLong), Some(s"2026-04-2$i"),
      None, "full", Seq.empty, Map(s"c$i" -> i.toLong), Provenance(PozosProvenance(desc, Nil))))
    for (n <- Seq(3, 1, 2)) {
      val path = dir.resolve(s"state-$n.jsonl")
      Files.writeString(path, records.take(n).map(toJson(_)).mkString)
      assert(RunPipeline.loadState(spark, path.toString) == records.take(n))
    }
  }

  test("a session conf change and a new session each analyse again, with the same result") {
    val ps = collected(Seq(("a", 0, Map("Loto" -> 5L, "Recargado" -> 1L)),
      ("b", 1, Map("Loto" -> 5L, "Total estimado" -> 9L))))
    def analysedRules(s: SparkSession): Map[String, Long] = {
      val (got, rules) = prepared(s, ps)
      assert(got == direct(s, ps))
      rules
    }
    analysedRules(spark)
    assert(analysedRules(spark).isEmpty, "a repeated call analysed again")
    val key = "spark.sql.caseSensitive"
    val before = spark.conf.get(key)
    spark.conf.set(key, (!before.toBoolean).toString)
    try {
      assert(analysedRules(spark).nonEmpty, s"$key flip reused the plan")
      assert(analysedRules(spark).isEmpty)
    } finally spark.conf.set(key, before)
    assert(analysedRules(spark).nonEmpty, s"$key restore reused the plan")
    val other = spark.newSession()
    assert(analysedRules(other).nonEmpty, "a new session reused the plan")
    assert(analysedRules(other).isEmpty)
  }

  test("two threads, 50 calls each, each get their own rows' result") {
    val sets = Seq(
      Seq(("a", 0, Map("Loto" -> 5L)), ("b", 1, Map("Loto" -> 6L, "Revancha" -> 1L))),
      Seq(("c", 2, Map("Recargado" -> 1200L)), ("d", 0, Map("Recargado" -> 1000L)),
        ("e", 1, Map("Recargado" -> 1000L, "Jubilazo" -> -7L))))
      .map(collected)
    val want = sets.map(direct(spark, _))
    val pool = Executors.newFixedThreadPool(2)
    try {
      val runs = sets.zip(want).map { case (ps, w) =>
        pool.submit(new Callable[Int] {
          def call(): Int = (1 to 50).count(_ => prepared(spark, ps)._1 == w)
        })
      }
      assert(runs.map(_.get(120, TimeUnit.SECONDS)) == Seq(50, 50))
    } finally pool.shutdownNow()
  }
}
