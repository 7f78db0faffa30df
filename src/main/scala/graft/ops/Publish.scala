package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.Model._

/** Publish path (reference `polla_app/publish.py`).
  *
  * Row conversion is set-at-a-time (explode/unpivot, `publish.py:69-116`);
  * the sheet itself is dimension-sized so the sink collects to the driver
  * and talks to a pluggable [[SheetsClient]] — the same split the
  * reference's gspread client implies. Rows land in one worksheet anyway,
  * so they are ordered by one single-partition sort (`coalesce(1)` +
  * `sortWithinPartitions`) instead of a range-partitioned `orderBy`: one
  * Spark job per collect or sheet write, with no sampling job or shuffle.
  * Dry-run = diff mode: both directions of `exceptAll` plus a rendered
  * unified-ish text diff (`publish.py:249-266`).
  */
object Publish {

  /** Pozos-only 4-col rows: sorteo, fecha, categoria, pozo_clp
    * (`publish.py:95-100`). Map iteration order is not semantic in Spark —
    * rows are ordered by categoria, which our sinks make explicit. */
  def pozoRows(records: Dataset[NormalizedRecord]): DataFrame =
    records.toDF()
      .select(col("sorteo"), col("fecha"),
        explode(col("pozos_proximo")).as(Seq("categoria", "pozo_clp")))
      .coalesce(1).sortWithinPartitions("categoria")

  /** Premios-mode 8-col rows (`publish.py:80-92`). */
  def premioRows(records: Dataset[NormalizedRecord]): DataFrame =
    records.toDF()
      .withColumn("pozos_proximo_json", to_json(col("pozos_proximo")))
      .withColumn("provenance_json", to_json(col("provenance")))
      .select(col("sorteo"), col("fecha"), col("fuente"),
        explode(col("premios")).as("p"),
        col("pozos_proximo_json"), col("provenance_json"))
      .select(col("sorteo"), col("fecha"), col("fuente"),
        col("p.categoria").as("categoria"),
        col("p.premio_clp").as("premio_clp"),
        col("p.ganadores").as("ganadores"),
        col("pozos_proximo_json").as("pozos_proximo"),
        col("provenance_json").as("provenance"))
      .coalesce(1).sortWithinPartitions("categoria")

  /** Mode switch (`publish.py:69-79`): premios present → 8-col else 4-col;
    * the first record decides, an empty dataset gives 4-col rows. */
  def recordToRows(records: Dataset[NormalizedRecord]): DataFrame = {
    val hasPremios = records.select(size(col("premios"))).head(1).exists(_.getInt(0) > 0)
    if (hasPremios) premioRows(records) else pozoRows(records)
  }

  /** Discrepancy rows (`publish.py:103-116`): sorteo, categoria,
    * consensus/disagreeing as JSON, missing as ", "-joined. */
  def mismatchRows(report: Dataset[Report]): DataFrame =
    report.toDF()
      .select(col("last_draw.sorteo").as("sorteo"), explode(col("mismatches")).as("m"))
      .select(col("sorteo"),
        col("m.categoria").as("categoria"),
        to_json(col("m.consensus")).as("consensus"),
        to_json(col("m.disagreeing")).as("disagreeing"),
        array_join(col("m.missing_sources"), ", ").as("missing_sources"))
      .coalesce(1).sortWithinPartitions("categoria")

  /** Header by row width (`publish.py:136-150`). */
  def headerFor(width: Int): Seq[String] =
    if (width == 4) Seq("sorteo", "fecha", "categoria", "pozo_clp")
    else Seq("sorteo", "fecha", "fuente", "categoria", "premio_clp",
      "ganadores", "pozos_proximo", "provenance")

  val mismatchHeader: Seq[String] =
    Seq("sorteo", "categoria", "consensus", "disagreeing", "missing_sources")

  /** Publish-allowed gate (`publish.py:119-133`): report status startswith
    * "publish"; summary `publish` flag overrides when present. */
  def publishAllowed(reportStatus: String, summaryPublish: Option[Boolean]): Boolean =
    summaryPublish.getOrElse(reportStatus.toLowerCase.startsWith("publish"))

  /** Sheet-shaped string cells (None → ""), matching the reference's
    * `", ".join(map(str, row))` comparisons. */
  private def cells(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map {
      case null => ""
      case v => v.toString
    })

  /** Dry-run diff (`publish.py:249-266`): current sheet vs header+rows as
    * comma-joined lines, unified-diff-flavored rendering. */
  def dryRunDiff(current: Seq[Seq[String]], proposed: DataFrame): String = {
    val header = headerFor(proposed.columns.length).map(identity)
    val proposedLines = (header +: cells(proposed)).map(_.mkString(", "))
    val currentLines = current.map(_.mkString(", "))
    if (currentLines == proposedLines) "(No changes detected against the current sheet)"
    else {
      val removed = currentLines.diff(proposedLines).map("- " + _)
      val added = proposedLines.diff(currentLines).map("+ " + _)
      (Seq("--- sheet:current", "+++ proposed_update") ++ removed ++ added).mkString("\n")
    }
  }

  /** Service-account credential resolution (`publish.py:24-46`): a
    * `service_account.json` in the working directory wins (developer
    * override — and if it exists but is empty, that's an error, not a
    * fallthrough); otherwise the first non-empty of the env triple
    * GOOGLE_SERVICE_ACCOUNT_JSON > GOOGLE_CREDENTIALS > CREDENTIALS.
    * Nothing found → ConfigError; payload that isn't a JSON object →
    * ConfigError. Returns the raw JSON payload — the transport client
    * (stubbed in this offline build) consumes it verbatim. */
  def resolveCredentials(cwd: java.nio.file.Path = java.nio.file.Paths.get("."),
      env: Map[String, String] = sys.env): String = {
    val file = cwd.resolve("service_account.json")
    val raw =
      if (java.nio.file.Files.exists(file)) Some(java.nio.file.Files.readString(file))
      else Seq("GOOGLE_SERVICE_ACCOUNT_JSON", "GOOGLE_CREDENTIALS", "CREDENTIALS")
        .flatMap(env.get).find(_.nonEmpty)
    val payload = raw.filter(_.nonEmpty).getOrElse(
      throw new graft.ConfigError("GOOGLE_SERVICE_ACCOUNT_JSON environment variable is required"))
    val ok = try {
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(payload).isObject
    } catch { case _: Exception => false }
    if (!ok) throw new graft.ConfigError("Invalid GOOGLE_SERVICE_ACCOUNT_JSON payload")
    payload
  }

  /** Spreadsheet-id resolution (`publish.py:282-284`):
    * GOOGLE_SPREADSHEET_ID, falling back to GOOGLE_SHEETS_SPREADSHEET_ID. */
  def resolveSpreadsheetId(env: Map[String, String] = sys.env): String =
    Seq("GOOGLE_SPREADSHEET_ID", "GOOGLE_SHEETS_SPREADSHEET_ID")
      .flatMap(env.get).find(_.nonEmpty).getOrElse(
        throw new graft.ConfigError("GOOGLE_SPREADSHEET_ID environment variable is required"))

  /** Minimal Sheets client surface (clear+update = truncate+overwrite,
    * `publish.py:161-171`); production impl would wrap the Sheets API,
    * tests use [[InMemorySheets]] like the reference's fake gspread. */
  trait SheetsClient {
    def getAllValues(worksheet: String): Seq[Seq[String]]
    def clearAndUpdate(worksheet: String, values: Seq[Seq[String]]): Int
  }

  final class InMemorySheets extends SheetsClient {
    val sheets = scala.collection.mutable.Map[String, Seq[Seq[String]]]()
    def getAllValues(worksheet: String): Seq[Seq[String]] =
      sheets.getOrElse(worksheet, Seq.empty)
    def clearAndUpdate(worksheet: String, values: Seq[Seq[String]]): Int = {
      sheets(worksheet) = values; values.length
    }
  }

  /** Canonical worksheet write (`publish.py:161-171`): header + rows;
    * empty rows → no write, returns 0. */
  def updateCanonical(client: SheetsClient, worksheet: String, rows: DataFrame): Int = {
    val data = cells(rows)
    if (data.isEmpty) 0
    else {
      client.clearAndUpdate(worksheet, headerFor(rows.columns.length) +: data)
      data.length
    }
  }

  /** Discrepancy sheet write (`publish.py:174-193`): placeholder row when
    * empty and quarantine allowed; no write when empty otherwise. */
  def updateDiscrepancy(client: SheetsClient, worksheet: String,
      rows: DataFrame, lastDrawSorteo: Option[Long], allowQuarantine: Boolean): Unit = {
    val data = cells(rows)
    if (data.nonEmpty || allowQuarantine) {
      val body = if (data.nonEmpty) data
        else Seq(Seq(lastDrawSorteo.map(_.toString).getOrElse(""), "", "", "", ""))
      client.clearAndUpdate(worksheet, mismatchHeader +: body)
    }
  }
}
