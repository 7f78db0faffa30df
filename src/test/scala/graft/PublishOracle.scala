package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.Model._

/** Reference twin of [[graft.ops.Publish]]'s row builders: the explode
  * formulation they replaced — one `explode` per record, the mode probed
  * with a `head(1)`, and the rows ordered by one single-partition sort
  * (`coalesce(1)` + `sortWithinPartitions`), which keeps input order among
  * equal categorias. Same schema, rows and order; it runs Spark jobs where
  * `Publish` folds at plan time.
  */
object PublishOracle {

  def pozoRows(records: Dataset[NormalizedRecord]): DataFrame =
    records.toDF()
      .select(col("sorteo"), col("fecha"),
        explode(col("pozos_proximo")).as(Seq("categoria", "pozo_clp")))
      .coalesce(1).sortWithinPartitions("categoria")

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

  def recordToRows(records: Dataset[NormalizedRecord]): DataFrame = {
    val hasPremios = records.select(size(col("premios"))).head(1).exists(_.getInt(0) > 0)
    if (hasPremios) premioRows(records) else pozoRows(records)
  }

  def mismatchRows(report: Dataset[Report]): DataFrame =
    report.toDF()
      .select(col("last_draw.sorteo").as("sorteo"), explode(col("mismatches")).as("m"))
      .select(col("sorteo"),
        col("m.categoria").as("categoria"),
        to_json(col("m.consensus")).as("consensus"),
        to_json(col("m.disagreeing")).as("disagreeing"),
        array_join(col("m.missing_sources"), ", ").as("missing_sources"))
      .coalesce(1).sortWithinPartitions("categoria")
}
