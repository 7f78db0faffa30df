package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, TableScan}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.ops.Publish

/** `format("sheet")` — the worksheet connector (SURVEY §2.1, reference
  * `publish.py:161-193`), a DataSource V1 provider.
  *
  * Semantics mirror the Sheets sink: a write (Append or Overwrite) is
  * always **clear + update** of one worksheet, header row included; the
  * read path serves the dry-run diff. Worksheets are tiny by construction
  * (the reference creates 200×10 sheets), so the write casts every column
  * to string in one projection (null → empty cell), collects it on the
  * driver and makes the single [[SheetBackend]] `clearAndUpdate` call. Over
  * a local relation that projection folds at plan time and the write starts
  * no Spark job; any other input runs one collect job, its rows in
  * partition order. A real deployment swaps in the Sheets client
  * ([[RestSheets]]) behind the same `Publish.SheetsClient` surface.
  */
class SheetDataSource extends CreatableRelationProvider with RelationProvider
    with DataSourceRegister {
  override def shortName(): String = "sheet"

  private def worksheet(parameters: Map[String, String]): String =
    parameters.getOrElse("worksheet", "canonical")

  private def backend(parameters: Map[String, String]): SheetBackend = {
    val path = parameters.get("path")
    require(path.isDefined, "option 'path' is required")
    new SheetBackend(path.get)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    new SheetRelation(sqlContext, backend(parameters), worksheet(parameters))

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    // the error a TableProvider source raises for these modes
    if (mode != SaveMode.Append && mode != SaveMode.Overwrite)
      throw new AnalysisException("UNSUPPORTED_DATA_SOURCE_SAVE_MODE",
        Map("source" -> shortName(), "createMode" -> s""""${mode.name()}""""))
    val names = data.schema.fieldNames.toSeq
    val cells = data.select(names.map(c =>
      coalesce(col("`" + c.replace("`", "``") + "`").cast(StringType), lit(""))): _*)
      .collect().toSeq.map(r => r.toSeq.map(_.asInstanceOf[String]))
    backend(parameters).clearAndUpdate(worksheet(parameters), names +: cells)
    createRelation(sqlContext, parameters)
  }
}

/** A worksheet as a string table: the header row names the columns. */
class SheetRelation(val sqlContext: SQLContext, backend: SheetBackend, worksheet: String)
    extends BaseRelation with TableScan {
  private lazy val values = backend.getAllValues(worksheet)

  override lazy val schema: StructType = StructType(
    values.headOption.getOrElse(Nil).filter(_.nonEmpty).map(StructField(_, StringType)))

  override def buildScan(): RDD[Row] = {
    val width = schema.length
    val rows = values.drop(1).map(r => Row.fromSeq(Seq.tabulate(width)(i => r.lift(i).getOrElse(""))))
    sqlContext.sparkContext.parallelize(rows, 1)
  }
}

/** The file-backed `Publish.SheetsClient`: one TSV file per worksheet
  * under `path`, where a real deployment talks to the Sheets API. */
final class SheetBackend(path: String) extends Publish.SheetsClient {

  def getAllValues(worksheet: String): Seq[Seq[String]] = {
    val f = SheetBackend.file(path, worksheet)
    if (!Files.exists(f)) Seq.empty
    else Files.readAllLines(f).asScala.toSeq.filter(_.nonEmpty)
      .map(_.split("\t", -1).toIndexedSeq)
  }

  /** Atomic truncate+overwrite, the `ws.clear(); ws.update(...)` pair. */
  def clearAndUpdate(worksheet: String, values: Seq[Seq[String]]): Int = {
    val f = SheetBackend.file(path, worksheet)
    Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
    Files.writeString(tmp, values.map(_.mkString("\t") + "\n").mkString)
    Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    values.length
  }
}

object SheetBackend {
  def file(path: String, worksheet: String): java.nio.file.Path =
    Paths.get(path, s"$worksheet.tsv")

  def readRows(path: String, worksheet: String): Seq[Seq[String]] =
    new SheetBackend(path).getAllValues(worksheet)
}
