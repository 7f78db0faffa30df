package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference twin of [[graft.ops.Consensus.merge]]: the window formulation
  * it replaced — a vote `groupBy` on (categoria, valor), a ranking window
  * per categoria, a re-aggregation per categoria and a broadcast cross join
  * of every reporting source. Same output columns and semantics, with one
  * known difference: a source name carried by two payload rows is listed
  * twice in `missing_sources` here, once by `merge`. Ties between values
  * with equal votes and equal best priority are unordered here, so callers
  * give every source its own priority.
  */
object ConsensusOracle {

  /** Not a total* category, as the reference words it (`pipeline.py:154-155`). */
  def notTotal(c: Column): Column = !lower(c).startsWith("total")

  /** One row per (source, categoria, valor) vote. */
  private def votes(payloads: DataFrame): DataFrame =
    payloads
      .filter(size(col("montos")) > 0)
      .select(col("source_name"), col("priority"),
        explode(col("montos")).as(Seq("categoria", "valor")))
      .filter(notTotal(col("categoria")))

  /** Per (categoria, valor): vote count, voters (registration order), best priority. */
  private def voteGroups(payloads: DataFrame): DataFrame =
    votes(payloads)
      .groupBy("categoria", "valor")
      .agg(
        count(lit(1)).as("n_votes"),
        array_sort(collect_list(struct(col("priority"), col("source_name")))).as("voters_pr"),
        min("priority").as("min_priority"))
      .withColumn("voters", transform(col("voters_pr"), v => v.getField("source_name")))
      .drop("voters_pr")

  def merge(payloads: DataFrame): DataFrame = {
    val allSources = payloads
      .filter(size(col("montos")) > 0)
      .select(array_sort(collect_list(struct(col("priority"), col("source_name")))).as("ps"))
      .select(transform(col("ps"), v => v.getField("source_name")).as("all_sources"))

    val order = Window.partitionBy("categoria")
      .orderBy(col("n_votes").desc, col("min_priority").asc)
    val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    val enriched = voteGroups(payloads)
      .withColumn("rn", row_number().over(order))
      .withColumn("winner_valor", first("valor").over(full))
      .withColumn("winner_sources", first("voters").over(full))

    enriched
      .groupBy("categoria")
      .agg(
        first("winner_valor").as("valor"),
        first("winner_sources").as("winner_sources"),
        count(lit(1)).as("n_candidates"),
        map_from_entries(transform(
          array_sort(collect_list(when(col("rn") > 1,
            struct(col("rn"),
              col("valor").cast("string").as("k"), col("voters").as("v"))))),
          e => struct(e.getField("k").as("key"), e.getField("v").as("value"))))
          .as("disagreeing"),
        coalesce(round(max(abs(col("valor") - col("winner_valor")) /
            when(col("winner_valor") > 0, col("winner_valor").cast("double"))), 4),
          lit(0.0)).as("max_deviation"),
        array_distinct(flatten(collect_list(col("voters")))).as("responding"))
      .crossJoin(broadcast(allSources))
      .withColumn("missing_sources",
        filter(col("all_sources"), s => !array_contains(col("responding"), s)))
      .drop("responding", "all_sources")
      .withColumn("has_mismatch", size(col("disagreeing")) > 0)
  }
}
