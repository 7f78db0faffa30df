package graft

import graft.Model._
import graft.ops.{Notifiers, Publish}

/** Publish path semantics (reference `tests/test_publish.py:38-240`,
  * `tests/test_phase4.py:12-44`). */
class PublishSpec extends SparkSpec {

  private val desc = SourceDesc(Some("https://a.cl/"), Some("2026-08-12T00:00:00Z"),
    Some("sha"), Some("UA"), estimado = true, Some(5417L), Some("2026-04-26"))
  private val prov = Provenance(PozosProvenance(desc, Seq.empty))

  private def record(premios: Seq[Premio] = Seq.empty) = NormalizedRecord(
    Some(5417L), Some("2026-04-26"), Some("https://a.cl/"), "full",
    premios, Map("Loto" -> 1000L, "Desquite" -> 510L), prov)

  private def ds(r: NormalizedRecord) = {
    import spark.implicits._
    spark.createDataset(Seq(r))
  }

  test("credential chain: file > env triple, in order; empty file errors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cred")
    val env = Map(
      "GOOGLE_SERVICE_ACCOUNT_JSON" -> """{"client_email":"a@x"}""",
      "GOOGLE_CREDENTIALS" -> """{"client_email":"b@x"}""",
      "CREDENTIALS" -> """{"client_email":"c@x"}""")
    // no file: first env var wins
    assert(Publish.resolveCredentials(dir, env).contains("a@x"))
    // earlier vars empty: fall through in order
    assert(Publish.resolveCredentials(dir,
      env + ("GOOGLE_SERVICE_ACCOUNT_JSON" -> "")).contains("b@x"))
    assert(Publish.resolveCredentials(dir, Map("CREDENTIALS" -> env("CREDENTIALS")))
      .contains("c@x"))
    // file present: wins over all env
    val f = dir.resolve("service_account.json")
    java.nio.file.Files.writeString(f, """{"client_email":"file@x"}""")
    assert(Publish.resolveCredentials(dir, env).contains("file@x"))
    // file present but empty: error, NOT env fallthrough (publish.py:31-38)
    java.nio.file.Files.writeString(f, "")
    val e1 = intercept[ConfigError](Publish.resolveCredentials(dir, env))
    assert(e1.getMessage.contains("GOOGLE_SERVICE_ACCOUNT_JSON"))
    // nothing anywhere
    java.nio.file.Files.delete(f)
    intercept[ConfigError](Publish.resolveCredentials(dir, Map.empty))
    // invalid JSON payload
    val e2 = intercept[ConfigError](
      Publish.resolveCredentials(dir, Map("CREDENTIALS" -> "not json")))
    assert(e2.getMessage.contains("Invalid"))
  }

  test("spreadsheet id: primary env, legacy fallback, missing errors") {
    assert(Publish.resolveSpreadsheetId(Map("GOOGLE_SPREADSHEET_ID" -> "id1",
      "GOOGLE_SHEETS_SPREADSHEET_ID" -> "id2")) == "id1")
    assert(Publish.resolveSpreadsheetId(
      Map("GOOGLE_SHEETS_SPREADSHEET_ID" -> "id2")) == "id2")
    intercept[ConfigError](Publish.resolveSpreadsheetId(Map.empty))
  }

  test("pozos-only mode → 4-col rows ordered by categoria") {
    val rows = Publish.recordToRows(ds(record())).collect()
    assert(rows.map(_.toSeq) sameElements Array(
      Seq(5417L, "2026-04-26", "Desquite", 510L),
      Seq(5417L, "2026-04-26", "Loto", 1000L)))
    assert(Publish.headerFor(4) == Seq("sorteo", "fecha", "categoria", "pozo_clp"))
  }

  test("premios mode → 8-col rows with serialized pozos/provenance") {
    val r = record(Seq(Premio("1 acierto", 100L, 2L), Premio("6 aciertos", 900L, 0L)))
    val rows = Publish.recordToRows(ds(r)).collect()
    assert(rows.length == 2)
    val first = rows.head
    assert(first.getAs[String]("categoria") == "1 acierto")
    assert(first.getAs[Long]("premio_clp") == 100L)
    assert(first.getAs[String]("pozos_proximo").contains("\"Loto\":1000"))
    assert(first.getAs[String]("provenance").contains("https://a.cl/"))
    assert(Publish.headerFor(8).head == "sorteo")
  }

  test("mismatch rows explode with JSON cells and joined missing list") {
    import spark.implicits._
    val rep = Report(
      RunInfo("r", "t", Seq("pozos"), 30, 3, fail_fast = false),
      LastDraw(Some(5198L), None),
      Decision("quarantine", "degraded", 2, 1, "why"),
      Seq(Mismatch("Loto", Map("1000" -> Seq("a")), Map("1200" -> Seq("c")),
        Some(0.2), Seq("b", "d"))),
      ApiVersion)
    val rows = Publish.mismatchRows(spark.createDataset(Seq(rep))).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("sorteo") == 5198L)
    assert(rows.head.getAs[String]("consensus").contains("\"1000\":[\"a\"]"))
    assert(rows.head.getAs[String]("missing_sources") == "b, d")
  }

  test("recordToRows matches the explode twin: schema, rows and order") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    // U+FF21 sorts before a surrogate pair in UTF-16 but after it in UTF-8,
    // so the order must be Spark's binary UTF-8 one
    val cats = Seq("Loto", "Desquite", "Ñandú", "loto", "\uFF21", "\uD83D\uDE00", "", "Loto ")
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    def rec(withPremios: Boolean): NormalizedRecord = NormalizedRecord(
      if (rnd.nextInt(4) == 0) None else Some(5400L + rnd.nextInt(3)),
      if (rnd.nextInt(4) == 0) None else Some(s"2026-04-2${rnd.nextInt(9)}"),
      if (rnd.nextBoolean()) None else Some(pick(Seq("https://a.cl/", "https://b.cl/"))),
      "full",
      if (!withPremios) Seq.empty
      else Seq.fill(rnd.nextInt(4))(Premio(
        if (rnd.nextInt(8) == 0) null else pick(cats), rnd.nextInt(1000), rnd.nextInt(3))),
      Seq.fill(rnd.nextInt(4))(pick(cats) -> rnd.nextInt(1000).toLong).toMap,
      prov)
    val bare = NormalizedRecord(None, None, None, "full", Seq.empty, Map.empty, prov)
    val cases = Seq(Seq.empty[NormalizedRecord], Seq(bare, rec(withPremios = true))) ++
      (1 to 40).map(i => Seq.fill(1 + rnd.nextInt(4))(rec(withPremios = i % 3 != 0)))
    val modes = cases.map { recs =>
      val got = Publish.recordToRows(spark.createDataset(recs))
      val want = PublishOracle.recordToRows(spark.createDataset(recs))
      assert(got.schema == want.schema, recs)
      assert(got.collect().toSeq == want.collect().toSeq, recs)
      got.columns.length
    }
    assert(modes.toSet == Set(4, 8)) // both modes are covered
  }

  test("mismatchRows matches the explode twin: schema, rows and order") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val cats = Seq("Loto", "Desquite", "Ñandú", "\uFF21", "\uD83D\uDE00", "")
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    def votes(): Map[String, Seq[String]] =
      Seq.fill(rnd.nextInt(3))(s"${rnd.nextInt(5) * 100}" -> Seq.fill(1 + rnd.nextInt(2))(
        pick(Seq("openloto", "polla")))).toMap
    def report(): Report = Report(
      RunInfo("r", "t", Seq("pozos"), 30, 3, fail_fast = false),
      LastDraw(if (rnd.nextInt(4) == 0) None else Some(5190L + rnd.nextInt(9)), None),
      Decision("quarantine", "degraded", 2, 1, "why"),
      Seq.fill(rnd.nextInt(4))(Mismatch(if (rnd.nextInt(8) == 0) null else pick(cats),
        votes(), votes(), if (rnd.nextBoolean()) None else Some(rnd.nextDouble()),
        Seq.fill(rnd.nextInt(3))(pick(Seq("a", "b", "ñ"))))),
      ApiVersion)
    for (reps <- Seq(Seq.empty[Report]) ++ Seq.fill(30)(Seq.fill(1 + rnd.nextInt(3))(report()))) {
      val got = Publish.mismatchRows(spark.createDataset(reps))
      val want = PublishOracle.mismatchRows(spark.createDataset(reps))
      assert(got.schema == want.schema, reps)
      assert(got.collect().toSeq == want.collect().toSeq, reps)
    }
  }

  test("publish gate: status prefix + summary override") {
    assert(Publish.publishAllowed("publish", None))
    assert(Publish.publishAllowed("publish_forced", None))
    assert(!Publish.publishAllowed("quarantine", None))
    assert(!Publish.publishAllowed("skip", None))
    assert(Publish.publishAllowed("quarantine", Some(true)))
    assert(!Publish.publishAllowed("publish", Some(false)))
  }

  test("canonical sheet write: header + rows; empty → no write") {
    val c = new Publish.InMemorySheets
    val n = Publish.updateCanonical(c, "canon", Publish.recordToRows(ds(record())))
    assert(n == 2)
    assert(c.sheets("canon").head == Seq("sorteo", "fecha", "categoria", "pozo_clp"))
    assert(c.sheets("canon").length == 3)
  }

  test("discrepancy sheet: placeholder row when empty + quarantine allowed") {
    import spark.implicits._
    val c = new Publish.InMemorySheets
    val empty = Publish.mismatchRows(spark.createDataset(Seq(Report(
      RunInfo("r", "t", Seq("pozos"), 30, 3, fail_fast = false),
      LastDraw(Some(5198L), None), Decision("skip", "full", 2, 0, "-"),
      Seq.empty, ApiVersion))))
    Publish.updateDiscrepancy(c, "disc", empty, Some(5198L), allowQuarantine = true)
    assert(c.sheets("disc") == Seq(Publish.mismatchHeader,
      Seq("5198", "", "", "", "")))
    // not allowed + empty → untouched
    val c2 = new Publish.InMemorySheets
    Publish.updateDiscrepancy(c2, "disc", empty, Some(5198L), allowQuarantine = false)
    assert(c2.sheets.isEmpty)
  }

  test("dry-run diff: no-change message and +/- rendering") {
    val rows = Publish.recordToRows(ds(record()))
    val header = Seq("sorteo", "fecha", "categoria", "pozo_clp")
    val current = header +: Seq(
      Seq("5417", "2026-04-26", "Desquite", "510"),
      Seq("5417", "2026-04-26", "Loto", "1000"))
    assert(Publish.dryRunDiff(current, rows) ==
      "(No changes detected against the current sheet)")
    val stale = header +: Seq(Seq("5417", "2026-04-26", "Loto", "999"))
    val diff = Publish.dryRunDiff(stale, rows)
    assert(diff.contains("- 5417, 2026-04-26, Loto, 999"))
    assert(diff.contains("+ 5417, 2026-04-26, Loto, 1000"))
    assert(diff.contains("+ 5417, 2026-04-26, Desquite, 510"))
  }

  test("slack: skip unchanged, summary text, quarantine blocks capped at 15") {
    val d = Decision("skip", "full", 9, 0, "unchanged")
    val s = Summary("rid", "t", d, prizes_changed = false, publish = false,
      "unchanged", ApiVersion)
    assert(!Notifiers.shouldNotify(s))
    val q = s.copy(decision = d.copy(status = "quarantine", mismatched_categories = 3),
      publish_reason = "max_deviation")
    assert(Notifiers.shouldNotify(q))
    assert(Notifiers.summaryText(q, 0).contains("DISCREPANCY ALERT"))
    assert(Notifiers.summaryText(q, 0).contains("`QUARANTINE`"))

    val manyMismatches = (1 to 40).map(i =>
      Mismatch(s"cat$i", Map("10" -> Seq("a")), Map("12" -> Seq("b")), Some(0.2), Seq()))
    val blocks = Notifiers.quarantineBlocks(q, manyMismatches)
    assert(blocks.head._2.contains("Quarantine Alert"))
    val detail = blocks.last._2
    assert(detail.linesIterator.count(_.startsWith("•")) == 15)
  }
}
