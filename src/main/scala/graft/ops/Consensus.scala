package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

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
  * Spark-first design: the merge is one column, [[mergeAll]], over the
  * array of every payload; a run has a few sources and about nine
  * categories, so the whole consensus fits one value. Higher-order
  * functions gather each category's votes, rank its values by (most votes,
  * best priority, value) and report the disagreement and the deviation.
  * Over a one-row local relation (the pipeline's case) the optimizer folds
  * that projection at plan time (`ConvertToLocalRelation`), so no Spark job
  * runs; over a DataFrame, [[merge]] collects the payloads into that array
  * with one global aggregate. Python's dict-insertion-order tie-break
  * becomes the explicit `priority` column (source registration order),
  * because a distributed engine has no row order; every array the result
  * reads is sorted first, so the payloads' arrival order never shows.
  *
  * The total* exclusion matches `^(?i)total` (Java regex, ASCII-only case
  * folding) rather than `lower(c).startsWith("total")`. The two agree on
  * every string: the only code points whose Unicode lowercase starts with
  * `t`, `o`, `a` or `l` are ASCII `TtOoAaLl` (`ConsensusSpec` re-checks
  * this with ICU over every scalar value). Spark's `lower`, `upper`,
  * `initcap` and `ilike` go through ICU, and the first one a JVM evaluates
  * runs `CollationAwareUTF8String`'s static initializer, which builds a
  * title-case table by calling ICU once for each of the 1,114,112 code
  * points: about 1.4 s on the first EP1 cycle of every `graft.Main run`,
  * paid inside the plan-time fold of [[mergeAll]].
  *
  * Expected payload schema:
  * `source_name STRING, priority INT, montos MAP<STRING,LONG>, ...`.
  */
object Consensus {

  /** Not a total* category: the ASCII-exact form of
    * `!lower(c).startsWith("total")`, without Spark's ICU case mapping. */
  private[graft] def notTotal(c: Column): Column = !c.rlike("^(?i)total")

  /** The consensus of an `array<struct<source_name, priority, montos, …>>`
    * column: an array of one struct per category, sorted by `categoria`,
    * with the fields of [[merge]]'s rows. */
  def mergeAll(payloads: Column): Column = {
    val reporting = filter(payloads, p => size(p.getField("montos")) > 0)
    // Every source with a non-empty payload, in registration order, taken
    // before the total* filter: a source that reports only totals is
    // missing from every category.
    val allSources = array_distinct(transform(
      array_sort(transform(reporting, p => struct(
        p.getField("priority").as("priority"), p.getField("source_name").as("source_name")))),
      s => s.getField("source_name")))
    val categories = array_sort(filter(
      array_distinct(flatten(transform(reporting, p => map_keys(p.getField("montos"))))),
      notTotal(_)))

    // A category's votes as (valor, priority, source_name).
    def cands(c: Column): Column =
      transform(filter(reporting, p => map_contains_key(p.getField("montos"), c)),
        p => struct(p.getField("montos").getItem(c).as("valor"),
          p.getField("priority").as("priority"), p.getField("source_name").as("source_name")))

    // Per distinct value: (−votes, best priority, value, voters by
    // priority); the natural struct order puts the winner first, then the
    // losers in vote-count order.
    def ranked(cs: Column): Column = array_sort(transform(
      array_distinct(transform(cs, c => c.getField("valor"))), v => {
        val voters = array_sort(filter(cs, c => c.getField("valor") === v))
        struct(
          negate(size(voters)).as("neg_votes"),
          voters.getItem(0).getField("priority").as("min_priority"),
          v.as("valor"),
          transform(voters, c => c.getField("source_name")).as("voters"))
      }))

    // Each stage binds its inputs as lambda variables: a lambda body does
    // not share subexpressions with the expressions around it.
    val perCategory = transform(
      transform(categories, c => struct(c.as("categoria"), cands(c).as("cands"))),
      e => struct(e.getField("categoria").as("categoria"), e.getField("cands").as("cands"),
        ranked(e.getField("cands")).as("ranked")))

    transform(perCategory, e => {
      val rs = e.getField("ranked")
      val winner = rs.getItem(0)
      val w = winner.getField("valor")
      struct(
        e.getField("categoria").as("categoria"),
        w.as("valor"),
        winner.getField("voters").as("winner_sources"),
        size(rs).cast(LongType).as("n_candidates"),
        map_from_entries(transform(filter(rs, (_, i) => i > 0),
          r => struct(r.getField("valor").cast(StringType).as("key"),
            r.getField("voters").as("value")))).as("disagreeing"),
        // divisor nulled when winner ≤ 0: ANSI mode would error on /0;
        // reference semantics (`pipeline.py:176-181`) = deviation 0.
        coalesce(round(array_max(transform(rs,
            r => abs(r.getField("valor") - w) / when(w > 0, w.cast(DoubleType)))), 4),
          lit(0.0)).as("max_deviation"),
        filter(allSources, s => !exists(e.getField("cands"),
          c => c.getField("source_name") === s)).as("missing_sources"),
        // every value after the winner is one `disagreeing` entry
        (size(rs) > 1).as("has_mismatch"))
    })
  }

  /** One row per category: winner + disagreement + missing-source report.
    *
    * Output: categoria, valor (winner), winner_sources, n_candidates,
    * disagreeing MAP<STRING,ARRAY<STRING>> (losing value → voters),
    * max_deviation DOUBLE, missing_sources ARRAY<STRING>, has_mismatch BOOLEAN.
    * One global aggregate gathers the payloads into [[mergeAll]]'s array.
    */
  def merge(payloads: DataFrame): DataFrame =
    payloads
      .agg(collect_list(struct(col("source_name"), col("priority"), col("montos"))).as("p"))
      .select(inline(mergeAll(col("p"))))
}
