package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.Model._

/** Publish path (reference `polla_app/publish.py`).
  *
  * Row conversion unpivots each record (explode/unpivot,
  * `publish.py:69-116`) in one projection over the records, collected on
  * the driver: over a local input it folds at plan time and starts no Spark
  * job. The sheet is dimension-sized, so its rows come back as a local
  * relation, stably sorted by categoria on the driver in Spark's string
  * order ([[sheetRows]], the module's one sort policy), and the sinks talk to
  * a pluggable [[SheetsClient]] — the same split the reference's gspread
  * client implies. Dry-run = diff mode: both directions of `exceptAll` plus
  * a rendered unified-ish text diff (`publish.py:249-266`).
  */
object Publish {

  /** Pozos-only 4-col rows: sorteo, fecha, categoria, pozo_clp
    * (`publish.py:95-100`). */
  private val pozoSchema: StructType = StructType(Seq(
    StructField("sorteo", LongType), StructField("fecha", StringType),
    StructField("categoria", StringType, nullable = false),
    StructField("pozo_clp", LongType, nullable = false)))

  /** Premios-mode 8-col rows (`publish.py:80-92`), map and provenance as
    * JSON cells. */
  private val premioSchema: StructType = StructType(Seq(
    "sorteo" -> LongType, "fecha" -> StringType, "fuente" -> StringType,
    "categoria" -> StringType, "premio_clp" -> LongType, "ganadores" -> LongType,
    "pozos_proximo" -> StringType, "provenance" -> StringType)
    .map { case (n, t) => StructField(n, t) })

  /** [[recordToRows]]'s projection: the mode probe, the keys, each
    * record's entries and premios, and its JSON cells. */
  private[graft] def recordCells(records: Dataset[NormalizedRecord]): DataFrame =
    records.toDF().select(size(col("premios")), col("sorteo"), col("fecha"),
      col("fuente"), map_entries(col("pozos_proximo")), col("premios"),
      to_json(col("pozos_proximo")), to_json(col("provenance")))

  /** Discrepancy rows (`publish.py:103-116`). */
  private val mismatchSchema: StructType = StructType(Seq(
    "sorteo" -> LongType, "categoria" -> StringType, "consensus" -> StringType,
    "disagreeing" -> StringType, "missing_sources" -> StringType)
    .map { case (n, t) => StructField(n, t) })

  /** Rows as a local relation, ordered by categoria: a stable sort (input
    * order among equal categorias, nulls first) in Spark's binary UTF-8
    * string order, so a sheet reads as a `sortWithinPartitions` over the
    * rows in input order would. */
  private def sheetRows(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame = {
    val at = schema.fieldIndex("categoria")
    val byCategoria: Ordering[Row] = (a, b) =>
      (Option(a.getString(at)), Option(b.getString(at))) match {
        case (Some(x), Some(y)) => UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
        case (x, y) => x.isDefined.compare(y.isDefined)
      }
    spark.createDataFrame(rows.sorted(byCategoria).asJava, schema)
  }

  /** Mode switch (`publish.py:69-79`): premios present → 8-col rows, else
    * 4-col; the first record decides, an empty dataset gives 4-col rows.
    * One projection carries the mode probe, each record's entries and its
    * JSON cells; each record's entries become its rows. */
  def recordToRows(records: Dataset[NormalizedRecord]): DataFrame = {
    val cells = recordCells(records).collect().toSeq
    if (cells.headOption.exists(_.getInt(0) > 0))
      sheetRows(records.sparkSession, premioSchema, cells.flatMap(r => r.getSeq[Row](5).map(p =>
        Row(r.get(1), r.get(2), r.get(3), p.get(0), p.get(1), p.get(2), r.get(6), r.get(7)))))
    else
      sheetRows(records.sparkSession, pozoSchema, cells.flatMap(r => r.getSeq[Row](4).map(e =>
        Row(r.get(1), r.get(2), e.get(0), e.get(1)))))
  }

  /** Discrepancy rows (`publish.py:103-116`): sorteo, categoria,
    * consensus/disagreeing as JSON, missing as ", "-joined. */
  def mismatchRows(report: Dataset[Report]): DataFrame = {
    val cells = report.toDF().select(col("last_draw.sorteo"),
      transform(col("mismatches"), m => struct(m("categoria"), to_json(m("consensus")),
        to_json(m("disagreeing")), array_join(m("missing_sources"), ", "))))
      .collect().toSeq
    sheetRows(report.sparkSession, mismatchSchema, cells.flatMap(r =>
      r.getSeq[Row](1).map(m => Row(r.get(0) +: m.toSeq: _*))))
  }

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
