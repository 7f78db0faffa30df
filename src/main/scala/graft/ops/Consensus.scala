package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Majority-vote consensus engine.
  *
  * Reference semantics (`polla_app/pipeline.py:135-225`):
  *  - one vote per (category, value) per source; categories whose lowercase
  *    name starts with "total" are excluded (`pipeline.py:154-155`);
  *  - winner per category = value with most votes, ties broken by source
  *    registration order — first-registered source wins
  *    (`pipeline.py:163-165`, pinned by `tests/test_pipeline.py:704-748`);
  *  - disagreeing categories report losing values with their voters, in
  *    vote-count order, and `max_deviation = max(|v - winner| / winner)`
  *    (0 if winner ≤ 0), rounded to 4 (`pipeline.py:176-191`);
  *  - `missing_sources` = sources that produced a payload but lack this
  *    category (`pipeline.py:167-173`), each name once.
  *
  * Spark-first design: one shuffle on `categoria` gathers every vote of a
  * category into a list bounded by the source count; the winner, the
  * disagreement report and the deviation come from one higher-order-function
  * projection over that list, sorted by (most votes, best priority, value).
  * The set of reporting sources is a `Window.partitionBy()` over the
  * per-category rows, so it is bounded by the category count, and the
  * rows it leaves sit in one partition: a caller's `orderBy("categoria")`
  * sorts locally, with no further exchange. Python's dict-insertion-order
  * tie-break becomes the explicit `priority` column (source registration
  * order), because a distributed engine has no row order.
  *
  * Expected payload schema:
  * `source_name STRING, priority INT, montos MAP<STRING,LONG>, ...`.
  */
object Consensus {

  private def notTotal(c: Column): Column = !lower(c).startsWith("total")

  /** One row per category: winner + disagreement + missing-source report.
    *
    * Output: categoria, valor (winner), winner_sources, n_candidates,
    * disagreeing MAP<STRING,ARRAY<STRING>> (losing value → voters),
    * max_deviation DOUBLE, missing_sources ARRAY<STRING>, has_mismatch BOOLEAN.
    */
  def merge(payloads: DataFrame): DataFrame = {
    val perCategory = payloads
      .select(col("source_name"), col("priority"),
        explode(col("montos")).as(Seq("categoria", "valor")))
      .groupBy("categoria")
      .agg(collect_list(struct(col("valor"), col("priority"), col("source_name")))
        .as("cands"))

    // Every source with a non-empty payload, in registration order, taken
    // before the total* filter: a source that reports only totals is
    // missing from every category.
    val reporters = collect_list(transform(col("cands"),
        c => struct(c.getField("priority"), c.getField("source_name"))))
      .over(Window.partitionBy())
    val allSources = array_distinct(transform(array_sort(flatten(reporters)),
      s => s.getField("source_name")))

    // Per distinct value: (−votes, best priority, value, voters by
    // priority); the natural struct order puts the winner first, then the
    // losers in vote-count order.
    def byValue(v: Column): Column = {
      val voters = array_sort(filter(col("cands"), c => c.getField("valor") === v))
      struct(
        negate(size(voters)).as("neg_votes"),
        voters.getItem(0).getField("priority").as("min_priority"),
        v.as("valor"),
        transform(voters, c => c.getField("source_name")).as("voters"))
    }
    val ranked = array_sort(transform(
      array_distinct(transform(col("cands"), c => c.getField("valor"))), byValue(_)))
    val winner = col("ranked").getItem(0)
    val w = winner.getField("valor")

    perCategory
      .withColumn("all_sources", allSources)
      .filter(notTotal(col("categoria")))
      .withColumn("ranked", ranked)
      .select(
        col("categoria"),
        w.as("valor"),
        winner.getField("voters").as("winner_sources"),
        size(col("ranked")).cast("long").as("n_candidates"),
        map_from_entries(transform(filter(col("ranked"), (_, i) => i > 0),
          e => struct(e.getField("valor").cast("string").as("key"),
            e.getField("voters").as("value")))).as("disagreeing"),
        // divisor nulled when winner ≤ 0: ANSI mode would error on /0;
        // reference semantics (`pipeline.py:176-181`) = deviation 0.
        coalesce(round(array_max(transform(col("ranked"),
            e => abs(e.getField("valor") - w) / when(w > 0, w.cast("double")))), 4),
          lit(0.0)).as("max_deviation"),
        filter(col("all_sources"), s => !exists(col("cands"),
          c => c.getField("source_name") === s)).as("missing_sources"))
      .withColumn("has_mismatch", size(col("disagreeing")) > 0)
  }

  /** Reference `resolved` map: one row (categoria, valor) per category. */
  def resolved(payloads: DataFrame): DataFrame =
    merge(payloads).select("categoria", "valor").orderBy("categoria")

  /** Decision scalars (`pipeline.py:383-404`): one row with
    * total_categories, mismatched_categories, mismatch_ratio, max_deviation,
    * plus confidence given the collected/expected source counts. */
  def decisionScalars(payloads: DataFrame, expectedSources: Int): DataFrame = {
    val nCollected = payloads.filter(size(col("montos")) > 0).count()
    merge(payloads)
      .agg(
        count(lit(1)).as("total_categories"),
        count_if(col("has_mismatch")).as("mismatched_categories"),
        coalesce(max(col("max_deviation")), lit(0.0)).as("max_deviation"))
      .withColumn("mismatch_ratio",
        when(col("total_categories") > 0,
          col("mismatched_categories") / col("total_categories").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("n_collected", lit(nCollected))
      .withColumn("confidence",
        when(col("n_collected") < expectedSources || col("mismatch_ratio") > 0, "degraded")
          .when(col("n_collected") === 1, "single_source")
          .otherwise("full"))
  }
}
