package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.Model._
import graft.ops.Prepared

/** Reference twin of [[graft.ops.RunPipeline]]'s state read: the same
  * PERMISSIVE parse written as `from_json(Column, StructType, options)`,
  * which in Spark 4 reaches the analyzer as a DDL schema string and runs
  * it through the SQL parser. Same lines in, same rows out.
  */
object StateReadOracle {

  private val stateEncoder = Encoders.product[NormalizedRecord]

  val statePass = new Prepared[String](Encoders.STRING, { lines =>
    val corrupt = "_corrupt_record"
    val schema = stateEncoder.schema.add(corrupt, StringType)
    lines
      .select(from_json(col("value"), schema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt)).as("r"))
      .select("r.*")
      .filter(col(corrupt).isNull && col("provenance.pozos.primary").isNotNull &&
        col("pozos_proximo").isNotNull && col("confidence").isNotNull)
      .drop(corrupt)
  })

  def loadState(spark: SparkSession, path: String): Seq[NormalizedRecord] = {
    val file = Paths.get(path)
    if (!Files.exists(file)) return Seq.empty
    val lines = new String(Files.readAllBytes(file), StandardCharsets.UTF_8)
      .split("\r\n|\r|\n").filter(_.trim.nonEmpty).toSeq
    statePass(spark, lines)(_.as(stateEncoder).collect().toSeq)
  }
}
