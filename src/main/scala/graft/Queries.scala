package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{PollaFunctions, PollaParsers}
import graft.ops.{Bpe, Consensus, Dedup, Drift, Ids, Multimodal, Retrieval, Sampling, Similarity, StatePipeline, TextAnalysis}

/** The declared-query surface (SURVEY.md §2.12 + north-star extensions).
  *
  * Every entry is a Spark DataFrame program over the driver test tables,
  * paired (where DuckDB can express it) with oracle SQL producing an
  * identical result — same column names, total ORDER BY, and numerics
  * canonicalized so hashes match:
  *  - money/quantity sums go through DECIMAL(18,4) (exact, order-independent
  *    addition) and come back as DOUBLE — double-sum nondeterminism across
  *    engines/partitions would otherwise flip rounded last digits;
  *  - timestamps are emitted as formatted strings (parquet tz metadata
  *    differs between engines);
  *  - every float output is ROUNDed; every ORDER BY has a unique tiebreak.
  *
  * Scale notes are on each query: broadcasts are explicit where a side is
  * dimension-sized, aggregations are partial-aggregable, filters sit
  * directly on the parquet scan so they push down.
  */
object Queries {

  case class QDef(name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String]) {
    // Bench embeds names verbatim in its JSON artifacts (q_filter, the
    // name-keyed map) without escaping; a quote/backslash/space in a
    // name would silently corrupt what the driver parses. Enforce the
    // charset where names are born instead of escaping at every sink.
    require(name.matches("[a-z0-9_]+"),
      s"QDef name '$name' must be [a-z0-9_]+ — it is embedded unescaped " +
        "in Bench's JSON artifacts and the driver's correctness keys")
  }

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Exact decimal sum → rounded double: order-independent across engines. */
  private def decSum2(c: Column): Column = round(sum(dec(c)), 2).cast("double")
  private def tsFmt(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
  private def tsFmtMicro(c: Column): Column =
    date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Non-NFC injection for `text_normalize`: decomposed accents
    * (e+U+0301, n+U+0303), a BEL control char, doubled spaces. Escape
    * sequences (not composed glyphs) so the Spark literal and the DuckDB
    * SQL literal are byte-identical and genuinely non-NFC. */
  private val nonNfcSuffix = "  cafe\u0301 nin\u0303o\u0007 spaced  out."

  /** curation_funnel injected sentences. A passes the quality gate and
    * carries a DECOMPOSED accent so the normalize stage does real work;
    * B survives the boilerplate stage (>= 5 words, terminal punct) but
    * is punctuation-heavy enough to fail the quality gate. */
  private val funnelSentA =
    "This is one of the proper sentences in the cafe\u0301 set and it has enough words here."
  private val funnelSentB = "x. y... z!!! w, v, u, t?"

  /** DuckDB oracle for `graph_pagerank`: the same fixed power iteration
    * unrolled as chained CTEs, one per step, with the identical
    * ROUND(…, 6) at every step — see [[graft.ops.Graph.pageRank]]'s
    * determinism contract. */
  private def pageRankOracleSql(iters: Int): String = {
    val head = """WITH e AS (SELECT DISTINCT
      |    'c' || CAST(o_custkey AS VARCHAR) AS src,
      |    's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |und AS (SELECT DISTINCT src, dst FROM (
      |    SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
      |  WHERE src <> dst),
      |degs AS (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src),
      |tot AS (SELECT COUNT(*) AS nn FROM degs),
      |r0 AS (SELECT d.node, d.deg, ROUND(1.0 / t.nn, 6) AS rank
      |  FROM degs d CROSS JOIN tot t)""".stripMargin
    val steps = (1 to iters).map { i =>
      s""",
         |r$i AS (SELECT d.node, d.deg,
         |    ROUND((1.0 - 0.85) / t.nn + 0.85 * COALESCE(s.s, 0.0), 6) AS rank
         |  FROM degs d CROSS JOIN tot t LEFT JOIN (
         |    SELECT u.dst AS node, SUM(r.rank / r.deg) AS s
         |    FROM und u JOIN r${i - 1} r ON u.src = r.node GROUP BY u.dst) s
         |  ON d.node = s.node)""".stripMargin
    }.mkString
    head + steps + s"\nSELECT node, deg, rank FROM r$iters ORDER BY node"
  }

  /** DuckDB oracle scaffolding for the BPE family (`text_bpe`,
    * `text_bpe_encode`, `sample_pack_bpe`): the merge rounds unrolled as
    * chained CTEs — pair count, top-1 with the (cnt DESC, l, r) tiebreak,
    * then a `list_reduce` greedy left-to-right merge application —
    * exactly [[graft.ops.Bpe]]'s determinism contract. The fold keeps the
    * accumulator as a space-joined symbol string (symbols are ASCII-alnum,
    * never contain spaces), so "last symbol == l" is the suffix test
    * `ends_with(acc, ' ' || l)`. */
  private def bpeRoundsCtes(iters: Int): String = {
    val head = """WITH w0 AS (
      |  SELECT word, COUNT(*) AS freq,
      |    [substr(word, i, 1) FOR i IN generate_series(1, length(word))] AS syms
      |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      |        FROM documents)
      |  WHERE regexp_matches(word, '^[a-z0-9]+$')
      |  GROUP BY word)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s""",
      |p$r AS (SELECT ml, mr, SUM(freq) AS cnt FROM (
      |    SELECT freq, unnest(syms[1:len(syms)-1]) AS ml,
      |           unnest(syms[2:len(syms)]) AS mr FROM w${r - 1})
      |  GROUP BY ml, mr),
      |t$r AS (SELECT ml, mr, cnt FROM p$r ORDER BY cnt DESC, ml, mr LIMIT 1),
      |w$r AS (SELECT word, freq, string_split(list_reduce(syms, (acc, x) ->
      |      CASE WHEN x = t.mr AND (acc = t.ml OR ends_with(acc, ' ' || t.ml))
      |           THEN substr(acc, 1, length(acc) - length(t.ml)) || t.ml || t.mr
      |           ELSE acc || ' ' || x END), ' ') AS syms
      |   FROM w${r - 1}, t$r t)""".stripMargin
    }.mkString
    head + rounds
  }

  /** Tokens + subtoken counts under the round-`iters` BPE segmentation,
    * appended to [[bpeRoundsCtes]]. */
  private def bpeEncodeCtes(iters: Int): String =
    bpeRoundsCtes(iters) + s""",
    |dt AS (SELECT doc_id,
    |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
    |  FROM documents),
    |enc AS (SELECT doc_id, COUNT(*) AS n_toks,
    |    CAST(SUM(COALESCE(len(w.syms), 1)) AS BIGINT) AS n_subtokens
    |  FROM dt LEFT JOIN w$iters w USING (word) GROUP BY doc_id)""".stripMargin

  /** Shared DuckDB replay of [[Similarity.semanticDedup]]'s pipeline
    * (seed, assignment argmin, one Lloyd step, re-assignment, in-cell
    * pair prune) — ONE generator feeds both the fixed-cell
    * `semantic_dedup` oracle and the corpus-scaled `semantic_dedup_w`
    * oracle, so the two replays cannot silently diverge; only the
    * `seeds` CTE chain (where k enters) differs per caller. */
  private def semanticDedupOracleSql(seedCtes: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    |$seedCtes,
    |d0 AS (SELECT e.vec_id, e.emb, s.cid,
    |    list_reduce([(e.emb[i]-s.emb[i])*(e.emb[i]-s.emb[i])
    |      FOR i IN generate_series(1,64)], (x,y) -> x+y) AS dist
    |  FROM e CROSS JOIN seeds s),
    |a0 AS (SELECT vec_id, emb, cid FROM (
    |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    |    FROM d0) WHERE rn = 1),
    |m AS (SELECT cid, i, ROUND(SUM(emb[i]) / COUNT(*), 6) AS mv
    |  FROM a0 CROSS JOIN generate_series(1,64) g(i) GROUP BY cid, i),
    |mm AS (SELECT cid, list(mv ORDER BY i) AS emb FROM m GROUP BY cid),
    |cent AS (SELECT s.cid, COALESCE(mm.emb, s.emb) AS emb
    |  FROM seeds s LEFT JOIN mm ON s.cid = mm.cid),
    |dc AS (SELECT e.vec_id, e.emb, c.cid,
    |    list_reduce([(e.emb[i]-c.emb[i])*(e.emb[i]-c.emb[i])
    |      FOR i IN generate_series(1,64)], (x,y) -> x+y) AS dist
    |  FROM e CROSS JOIN cent c),
    |ca AS (SELECT vec_id, emb, cid AS cell FROM (
    |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    |    FROM dc) WHERE rn = 1),
    |p AS (SELECT a.vec_id, MIN(b.vec_id) AS dup_of
    |  FROM ca a JOIN ca b ON a.cell = b.cell AND b.vec_id < a.vec_id
    |    AND ROUND(list_dot_product(a.emb, b.emb) /
    |      (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))),
    |      4) >= 0.25
    |  GROUP BY a.vec_id)
    |SELECT ca.vec_id, CAST(ca.cell AS BIGINT) AS cell, p.dup_of,
    |  p.dup_of IS NULL AS kept
    |FROM ca LEFT JOIN p USING (vec_id) ORDER BY ca.vec_id""".stripMargin

  import Tables._

  val all: Seq[QDef] = Seq(

    // ---- Q1: scan + project + filter (predicates push to parquet scan) ----
    QDef("q01_filter_project",
      (s, d) => lineitem(s, d)
        .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_discount BETWEEN 0.05 AND 0.07
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- Q2: simple predicates ----
    QDef("q02_predicate",
      (s, d) => orders(s, d)
        .filter(col("o_totalprice") > 100000 && col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 100000 AND o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin)),

    // ---- Q3: equi join + agg + top-k (customer side small → broadcastable) ----
    QDef("q03_join_agg_topk",
      (s, d) => customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(decSum2(col("o_totalprice")).as("total"))
        .orderBy(col("total").desc, col("c_custkey"))
        .limit(100),
      Some("""SELECT c.c_custkey, c.c_name,
        |CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) AS total
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey, c.c_name ORDER BY total DESC, c.c_custkey LIMIT 100""".stripMargin)),

    // ---- Q4: left anti join (missing-sources semantics) ----
    QDef("q04_anti_join",
      (s, d) => customer(s, d)
        .join(orders(s, d)
            .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2001-01-01') ORDER BY c_custkey""".stripMargin)),

    // ---- Q5: left outer + new-vs-seen change detection ----
    QDef("q05_left_join_changedetect",
      (s, d) => {
        val early = orders(s, d)
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey").as("b_key")).distinct()
        orders(s, d).join(early, col("o_orderkey") === col("b_key"), "left")
          .select(col("o_orderkey"),
            when(col("b_key").isNull, "new").otherwise("seen").as("st"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT a.o_orderkey, CASE WHEN b.o_orderkey IS NULL THEN 'new' ELSE 'seen' END AS st
        |FROM orders a LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders
        |WHERE o_orderdate < TIMESTAMP '1998-01-01') b ON a.o_orderkey = b.o_orderkey
        |ORDER BY a.o_orderkey""".stripMargin)),

    // ---- Q6: theta join (equi key + range residual).
    //
    // r17 (VERDICT r16 item 4 — the q19 treatment applied): the naive
    // part⋈lineitem crossed broadcast→SMJ at sf100 (72.7 s = 6.7× the
    // oracle; shuffling all 600 M lineitem rows plus sorting both
    // sides). Only (p_partkey, p_size) — two ints — ever reaches the
    // join, so the part side is projected SKINNY and, while the footer
    // row count says the dim stays broadcast-sized (≤ 25 M rows — the
    // binding constraint is the DRIVER hop: an explicit broadcast()
    // collects the rows through the driver, ~2× covered by the default
    // 1 g spark.driver.maxResultSize at 25 M × ~20 B collected rows,
    // and the executor-side LongHashedRelation built from them runs
    // ~2-3× the raw bytes — r17 ADVICE item 1 lowered the gate from
    // 50 M, which sat close enough to both ceilings to crash in
    // BroadcastExchange rather than degrade), BROADCAST: lineitem then
    // never shuffles at all — the exchange after the join carries only
    // partial-agg (p_partkey, count) rows. Above the gate (part ~20 B
    // rows at real 100 TB) the dim is hinted SHUFFLE_HASH: lineitem shuffles
    // once on l_partkey and probes a per-partition hash build of the
    // skinny dim — rows/width per task, no sort of either side ever.
    // Residual l_quantity > p_size rides both shapes as the equi-join's
    // post-probe filter. Measured at sf100 (evidence/r17): broadcast
    // skinny 72.7 → see SCALE.md; plan pinned in PlanSpec. ----
    QDef("q06_theta_join",
      (s, d) => {
        val skinny = part(s, d).select("p_partkey", "p_size")
        val dim =
          if (Tables.footerRowCount(s, d, "part") <= 25000000L)
            broadcast(skinny)
          else skinny.hint("shuffle_hash")
        lineitem(s, d).select("l_partkey", "l_quantity")
          .join(dim,
            col("l_partkey") === col("p_partkey") && col("l_quantity") > col("p_size"))
          .groupBy("p_partkey")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("p_partkey"))
          .limit(100)
      },
      Some("""SELECT p.p_partkey, COUNT(*) AS n FROM part p
        |JOIN lineitem l ON l.l_partkey = p.p_partkey AND l.l_quantity > p.p_size
        |GROUP BY p.p_partkey ORDER BY n DESC, p.p_partkey LIMIT 100""".stripMargin)),

    // ---- Q7: left semi + explicit broadcast of the tiny dim ----
    QDef("q07_semi_broadcast",
      (s, d) => supplier(s, d)
        .join(broadcast(nation(s, d).filter(col("n_regionkey") === 1)),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey"),
      Some("""SELECT s_suppkey, s_name FROM supplier
        |WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
        |ORDER BY s_suppkey""".stripMargin)),

    // ---- Q8: vote building (consensus core, partial-aggregable) ----
    QDef("q08_vote_groups",
      (s, d) => lineitem(s, d)
        .groupBy("l_partkey", "l_suppkey")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("l_partkey", "l_suppkey")
        .limit(1000),
      Some("""SELECT l_partkey, l_suppkey, COUNT(*) AS cnt FROM lineitem
        |GROUP BY l_partkey, l_suppkey ORDER BY l_partkey, l_suppkey LIMIT 1000""".stripMargin)),

    // ---- Q9: winner selection — top-1 per group via row_number ----
    QDef("q09_window_top1",
      (s, d) => {
        // cluster on l_partkey BEFORE the agg: HashPartitioning(pk)
        // satisfies the agg's ClusteredDistribution(pk, sk) (subset) AND
        // the window's ClusteredDistribution(pk) — one exchange instead
        // of two full ~|lineitem-groups| shuffles (measured 0.9 s → 0.5 s
        // at sf0.1; the same reuse argument holds at any scale since agg
        // and window share the clustering)
        val votes = lineitem(s, d)
          .select("l_partkey", "l_suppkey")
          .repartition(col("l_partkey"))
          .groupBy("l_partkey", "l_suppkey").agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("l_partkey")
          .orderBy(col("cnt").desc, col("l_suppkey").asc)
        votes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("l_partkey", "l_suppkey", "cnt")
          .orderBy("l_partkey")
      },
      Some("""SELECT l_partkey, l_suppkey, cnt FROM (
        |SELECT l_partkey, l_suppkey, cnt,
        |ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY cnt DESC, l_suppkey ASC) AS rn
        |FROM (SELECT l_partkey, l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1,2))
        |WHERE rn = 1 ORDER BY l_partkey""".stripMargin)),

    // ---- Q10: global decision scalars ----
    QDef("q10_decision_scalars",
      (s, d) => lineitem(s, d).agg(
        count(lit(1)).as("total"),
        countDistinct(col("l_partkey")).as("parts"),
        round(max(abs(col("l_extendedprice") * (lit(1) - col("l_discount")) -
          col("l_extendedprice")) / col("l_extendedprice")), 4).as("maxdev"),
        round(sum(when(col("l_returnflag") === "R", 1).otherwise(0)) /
          count(lit(1)).cast("double"), 4).as("ratio")),
      Some("""SELECT COUNT(*) AS total, COUNT(DISTINCT l_partkey) AS parts,
        |ROUND(MAX(ABS(l_extendedprice*(1-l_discount) - l_extendedprice)/l_extendedprice),4) AS maxdev,
        |ROUND(CAST(SUM(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) AS DOUBLE)/COUNT(*),4) AS ratio
        |FROM lineitem""".stripMargin)),

    // ---- Q11: rollup (Catalyst Expand); sentinel avoids NULL-order skew ----
    // ROLLUP without the Expand: Spark's rollup() triples every fact
    // row through an Expand node before the partial aggregate sees it.
    // The coarser grouping sets are exact re-aggregations of the finest
    // one (COUNT sums; the decimal SUM is kept UNROUNDED until the end,
    // so summing the 6 sub-sums is bit-exact associative decimal
    // arithmetic), so the fact table is aggregated ONCE at
    // (flag, status) — ~6 rows — and the two coarser levels union from
    // those 6 rows. One scan at 1/3 the partial-agg updates; the same
    // closed-form-over-tiny-domain argument as Q51's prefix sum.
    QDef("q11_rollup",
      (s, d) => {
        // pinned: the three-level union must not re-run the fact
        // aggregation per level (union recomputes an unpinned plan —
        // the checkpoint is 6 rows)
        val base = graft.ops.Materialize(lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).as("qd")))
        val lvl2 = base.select(col("l_returnflag"), col("l_linestatus"),
          col("n"), col("qd"))
        val lvl1 = base.groupBy("l_returnflag")
          .agg(sum("n").as("n"), sum("qd").as("qd"))
          .select(col("l_returnflag"), lit("_all_").as("l_linestatus"),
            col("n"), col("qd"))
        val lvl0 = base
          .agg(sum("n").as("n"), sum("qd").as("qd"))
          .select(lit("_all_").as("l_returnflag"), lit("_all_").as("l_linestatus"),
            col("n"), col("qd"))
        lvl2.unionAll(lvl1).unionAll(lvl0)
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            round(col("qd"), 2).cast("double").as("q"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT COALESCE(l_returnflag,'_all_') AS l_returnflag,
        |COALESCE(l_linestatus,'_all_') AS l_linestatus, COUNT(*) AS n,
        |CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))),2) AS DOUBLE) AS q
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- Q12: analytic windows + frames ----
    QDef("q12_window_frames",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        events(s, d)
          .withColumn("d", round(col("value") - lag("value", 1).over(w), 2))
          .withColumn("mv", round(sum("value").over(w.rowsBetween(-2, 0)), 2))
          .select(col("user_id"), tsFmtMicro(col("ts")).as("ts"), col("event_id"),
            col("value"), col("d"), col("mv"))
          .orderBy("user_id", "ts", "event_id")
          .limit(5000)
      },
      Some("""SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, event_id, value,
        |ROUND(value - LAG(value) OVER w, 2) AS d,
        |ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS mv
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts, event_id LIMIT 5000""".stripMargin)),

    // ---- Q13: global top-k (TakeOrderedAndProject — no full sort) ----
    QDef("q13_topk",
      (s, d) => orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(15),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin)),

    // ---- Q14: set operations ----
    QDef("q14a_intersect",
      (s, d) => customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
        .intersect(orders(s, d).select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING'
        |INTERSECT SELECT o_custkey FROM orders ORDER BY c_custkey""".stripMargin)),
    QDef("q14b_except",
      (s, d) => customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
        .except(orders(s, d).filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING'
        |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |ORDER BY c_custkey""".stripMargin)),
    QDef("q14c_union",
      (s, d) => customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
        .union(orders(s, d).select(col("o_custkey").as("c_custkey")))
        .distinct()
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING'
        |UNION SELECT o_custkey FROM orders ORDER BY c_custkey""".stripMargin)),

    // ---- Q15: string/date/math scalar functions ----
    QDef("q15_scalar_funcs",
      (s, d) => orders(s, d)
        .select(col("o_orderkey"),
          upper(col("o_orderpriority")).as("pri"),
          substring(col("o_orderstatus"), 1, 1).as("st"),
          year(col("o_orderdate")).cast("long").as("y"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("m"),
          round(log10(col("o_totalprice")), 3).as("lg"))
        .orderBy("o_orderkey")
        .limit(1000),
      Some("""SELECT o_orderkey, UPPER(o_orderpriority) AS pri,
        |SUBSTRING(o_orderstatus,1,1) AS st, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
        |strftime(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS m,
        |ROUND(LOG10(o_totalprice),3) AS lg
        |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // ---- Q16: unpivot (portable UNION ALL form) + JSON extraction ----
    QDef("q16_unpivot",
      (s, d) => events(s, d)
        .select(col("event_id"), lit("type").as("k"), col("event_type").as("v"))
        .unionAll(events(s, d)
          .select(col("event_id"), lit("uid").as("k"), col("user_id").cast("string").as("v")))
        .orderBy("event_id", "k")
        .limit(5000),
      Some("""SELECT event_id, 'type' AS k, event_type AS v FROM events
        |UNION ALL SELECT event_id, 'uid' AS k, CAST(user_id AS VARCHAR) AS v FROM events
        |ORDER BY event_id, k LIMIT 5000""".stripMargin)),
    QDef("q16b_json_extract",
      // Spread: the per-row JSON parse ran serial in the one-task local
      // scan; TakeOrdered keeps per-partition heaps. No-op at scale.
      (s, d) => graft.ops.Spread.wide(events(s, d)
          .select(col("event_id"), col("props")),
          Some(hash(col("event_id"))))
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("kval"))
        .orderBy("event_id")
        .limit(5000),
      Some("""SELECT event_id, CAST(props->>'k' AS BIGINT) AS kval FROM events
        |ORDER BY event_id LIMIT 5000""".stripMargin)),

    // ---- Q17: tumbling-window aggregation (batch analog of streaming) ----
    QDef("q17_tumbling_window",
      (s, d) => events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("w_ts"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum2(col("value")).as("sum_v"))
        .select(tsFmt(col("w_ts")).as("w"), col("event_type"), col("n"), col("sum_v"))
        .orderBy("w", "event_type"),
      Some("""SELECT strftime(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS w, event_type,
        |COUNT(*) AS n, CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1, 2 ORDER BY w, event_type""".stripMargin)),

    // ---- Q18: dedup/state analogs ----
    QDef("q18a_first_seen",
      (s, d) => events(s, d)
        .groupBy("user_id").agg(min("ts").as("fs"))
        .select(col("user_id"), tsFmtMicro(col("fs")).as("first_seen"))
        .orderBy("user_id"),
      Some("""SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_seen
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QDef("q18b_distinct",
      (s, d) => events(s, d)
        .select("user_id", "event_type").distinct()
        .orderBy("user_id", "event_type"),
      Some("""SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin)),

    // ---- Q19: snowflake multi-join; dims broadcast, fact never re-shuffled.
    //
    // Shape history, all measured min-of-3 interleaved on an idle host:
    //  - NEGATIVE (r10, sf1): per-(orderkey, region) pre-aggregation
    //    BELOW the orders join loses in every form — two-level partial
    //    agg 1.93 s, repartition+complete-agg+SHJ 1.70 s vs 1.42–1.46 s
    //    direct. RE-MEASURED at sf10 (r12, tmp/q19probe_sf10.log): still
    //    loses, 2.2× — 9.5 s pre-agg vs 4.3 s direct; lineitem:orders is
    //    only ~4:1 and the 60 M-row (okey, region) hash-agg never pays.
    //  - r12: the fact-fact join is hinted SHUFFLE_HASH — at sf10 the
    //    SMJ's two 60 M/15 M-row sorts were 25% of the query (4.29 →
    //    3.20 s); at sf1/sf0.1 the hint is a wash (1.26/1.01, 0.71/0.72).
    //    A hash build of the skinny orders side per partition is the
    //    100 TB shape too: build fits memory once shuffle partitions
    //    scale with the input, and no sort of the big side ever runs.
    //  - r12: the exchange is SKINNY — revenue contribution is cast to
    //    decimal MAP-SIDE before the shuffle (addition-order-free, value
    //    identical) and the region rides as its int key, the 25-char
    //    name re-attached to the 35-row AGGREGATE by broadcast. sf10
    //    3.20 → 2.81 s = 2.4× the DuckDB oracle (was 5.4× in r11). ----
    QDef("q19_snowflake_revenue",
      (s, d) => {
        // the orders side reaches this join as two skinny ints
        // (o_orderkey, year); under the same footer-count broadcast gate
        // as q06 (≤ 25 M rows — driver hop + hash relation both covered)
        // the fact table never shuffles AT ALL: both dims broadcast, the
        // only exchange is the (region, year) partial agg. Above the
        // gate the orders side is hinted SHUFFLE_HASH — one shuffle of
        // each side on the join key, no sort (r18; was an unconditional
        // shuffle_hash that paid the full lineitem+orders exchange at
        // every SF, 12.6× the oracle at sf0.1).
        val ordersSkinny = orders(s, d)
          .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("y"))
        val ordersDim =
          if (Tables.footerRowCount(s, d, "orders") <= 25000000L)
            broadcast(ordersSkinny)
          else ordersSkinny.hint("shuffle_hash")
        lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"),
            dec(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("pr"))
          .join(broadcast(supplier(s, d)
              .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
              .select("s_suppkey", "n_regionkey")),
            col("l_suppkey") === col("s_suppkey"))
          .select("l_orderkey", "n_regionkey", "pr")
          .join(ordersDim, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_regionkey"), col("y"))
          .agg(round(sum(col("pr")), 2).cast("double").as("rev"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"), col("y"), col("rev"))
          .orderBy("r_name", "y")
      },
      Some("""SELECT r_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
        |CAST(ROUND(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))),2) AS DOUBLE) AS rev
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |JOIN lineitem ON l_suppkey = s_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY r_name, y ORDER BY r_name, y""".stripMargin)),

    // ---- Q20: conditional aggregation (pivot shape).
    //
    // r17 (VERDICT r16 item 5, stage-probed at sf100): the default
    // partial→final plan hash-aggregated 600 M rows against a ~5 M-key
    // space PER MAP TASK for a 12% row reduction (600 M → 526 M
    // partials, 91.5 s map stage) — the key space is l_partkey, which
    // GROWS with the fact table, so map-side reduction is structurally
    // useless at every scale. Same rule containment established (<15%
    // map-side reduction ⇒ exchange the raw stream): repartition by the
    // group key first — the groupBy then aggregates ONCE post-shuffle
    // with per-task state of only keys/width, no wide-key map hash, and
    // decimal addition is exact so any grouping order is value-identical.
    // Measured sf100 (noop action): 156.3 → see SCALE.md r17. ----
    QDef("q20_conditional_agg",
      (s, d) => lineitem(s, d)
        .select("l_partkey", "l_returnflag", "l_quantity")
        .repartition(col("l_partkey"))
        .groupBy("l_partkey")
        .agg(
          round(sum(when(col("l_returnflag") === "A", dec(col("l_quantity")))
            .otherwise(dec(lit(0)))), 2).cast("double").as("a"),
          round(sum(when(col("l_returnflag") === "R", dec(col("l_quantity")))
            .otherwise(dec(lit(0)))), 2).cast("double").as("r"))
        .orderBy("l_partkey")
        .limit(1000),
      Some("""SELECT l_partkey,
        |CAST(ROUND(SUM(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END),2) AS DOUBLE) AS a,
        |CAST(ROUND(SUM(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END),2) AS DOUBLE) AS r
        |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey LIMIT 1000""".stripMargin)),

    // ---- Q21: correlated subquery, implemented decorrelated ----
    QDef("q21_decorrelated_subquery",
      (s, d) => {
        val avgs = orders(s, d).groupBy(col("o_custkey").as("k"))
          .agg(avg("o_totalprice").as("avg_tp"))
        orders(s, d).join(avgs, col("o_custkey") === col("k"))
          .filter(col("o_totalprice") > col("avg_tp"))
          .select("o_orderkey")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey FROM orders o
        |WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2
        |WHERE o2.o_custkey = o.o_custkey) ORDER BY o_orderkey""".stripMargin)),

    // ---- Q22: array ops over embeddings ----
    QDef("q22_array_dim",
      (s, d) => embeddings(s, d)
        .select(col("vec_id"), col("label"), size(col("embedding")).cast("long").as("dim"))
        .orderBy("vec_id")
        .limit(100),
      Some("""SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim
        |FROM embeddings ORDER BY vec_id LIMIT 100""".stripMargin)),

    // ---- Q23: text profile ----
    QDef("q23_text_profile",
      (s, d) => documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          round(avg("n_chars"), 2).as("avg_chars"),
          min(length(col("text"))).cast("long").as("minlen"))
        .orderBy("lang"),
      Some("""SELECT lang, COUNT(*) AS n, ROUND(AVG(n_chars),2) AS avg_chars,
        |CAST(MIN(LENGTH(text)) AS BIGINT) AS minlen
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- Q24: profile sweep — per-table row counts ----
    // Footer-served: each per-table COUNT(*) reads parquet row-group
    // metadata, not data (PushedAggregation in the plan, pinned by
    // FooterStatsSpec) — at 100 TB a profile sweep must not scan the lake.
    QDef("q24_table_counts",
      (s, d) => Tables.names.map(n =>
          Tables.footerScan(s, d, n).agg(count(lit(1)).as("n")).select(lit(n).as("t"), col("n")))
        .reduce(_ unionAll _)
        .orderBy("t"),
      Some(Tables.names.map(n => s"SELECT '$n' AS t, COUNT(*) AS n FROM $n")
        .mkString("", " UNION ALL ", " ORDER BY t"))),

    // ---- Q25: sessionization (gap-based session ids via lag + running sum) ----
    QDef("q25_sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        events(s, d)
          .withColumn("flag",
            when(lag("ts", 1).over(w).isNull ||
              unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)) > 600000000L, 1)
              .otherwise(0))
          .withColumn("sid", sum("flag").over(w))
          .groupBy(col("user_id"), col("sid").cast("long").as("session_id"))
          .agg(count(lit(1)).as("n"),
            tsFmtMicro(min(col("ts"))).as("s_start"),
            tsFmtMicro(max(col("ts"))).as("s_end"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
        |    THEN 1 ELSE 0 END AS flag
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (SELECT *, SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM flagged)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_id, COUNT(*) AS n,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS s_start,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS s_end
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_id""".stripMargin)),

    // ---- Q26: as-of join (latest prior 'view' per 'click', strictly earlier) ----
    QDef("q26_asof_join",
      (s, d) => {
        val ev = events(s, d)
        val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
          .rangeBetween(Window.unboundedPreceding, -1)
        ev.withColumn("prior_view_us",
            max(when(col("event_type") === "view", unix_micros(col("ts")))).over(w))
          .filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), tsFmtMicro(col("ts")).as("ts"),
            tsFmtMicro(timestamp_micros(col("prior_view_us"))).as("prior_view_ts"))
          .orderBy("event_id")
          .limit(5000)
      },
      Some("""SELECT c.event_id, c.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |  strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS prior_view_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id AND v.ts < c.ts
        |ORDER BY c.event_id LIMIT 5000""".stripMargin)),

    // ---- Q27: exact percentiles (sort-based, cross-engine interpolation) ----
    // Two-phase CDF (Profiler.quantilesByKey) rather than `percentile`:
    // the built-in buffers a value→count map per group in an
    // interpreted ObjectHashAggregate — every input row an object-map
    // update. Same interpolation (rank (n−1)p, linear), identical
    // values.
    QDef("q27_percentiles",
      (s, d) => graft.ops.Profiler.quantilesByKey(
          events(s, d)
            .select(col("event_type").as("column"),
              col("value").cast("double").as("v"))
            .filter(col("v").isNotNull),
          ps = Seq(0.5, 0.9, 0.99), dp = 2,
          smallHint = Tables.footerRowCount(s, d, "events") <=
            graft.ops.Profiler.SmallStackedGate)
        .select(col("column").as("event_type"), col("p50"), col("p90"),
          col("p99"))
        .orderBy("event_type"),
      Some("""SELECT event_type, ROUND(quantile_cont(value, 0.5), 2) AS p50,
        |ROUND(quantile_cont(value, 0.9), 2) AS p90,
        |ROUND(quantile_cont(value, 0.99), 2) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- Q44: window value semantics (first/last/nth under a total
    // order) WITHOUT a window. `PARTITION BY l_returnflag` has
    // cardinality 3, so a real Window would sort the whole table
    // through ≤ 3 reducers at any cluster size — three straggler tasks
    // at 100 TB. Instead: first/last under (l_orderkey, l_linenumber)
    // order are just min/max of l_orderkey (one partial-agg pass), and
    // the 3rd row is the worst of GroupedTopK(k=3) — O(keys·k·parts)
    // across the exchange, never O(rows). Both sides are 3-row aggs;
    // the join broadcasts. ----
    QDef("q44_window_values",
      (s, d) => {
        val li = lineitem(s, d)
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
        val mm = li.groupBy("l_returnflag")
          .agg(min("l_orderkey").as("first_ok"), max("l_orderkey").as("last_ok"))
        val third = graft.plans.GroupedTopK
          .perKey(li, "l_returnflag",
            Seq(("l_orderkey", true), ("l_linenumber", true)), 3)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_top"),
            max(struct(col("l_orderkey"), col("l_linenumber"))).as("m"))
          // NTH_VALUE(_, 3) is NULL when the group has < 3 rows
          .select(col("l_returnflag"),
            when(col("n_top") >= 3, col("m.l_orderkey")).as("third_ok"))
        mm.join(broadcast(third), Seq("l_returnflag"))
          .select(col("l_returnflag"), col("first_ok"), col("last_ok"),
            col("third_ok"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT DISTINCT l_returnflag,
        |FIRST_VALUE(l_orderkey) OVER (PARTITION BY l_returnflag
        |  ORDER BY l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_ok,
        |LAST_VALUE(l_orderkey) OVER (PARTITION BY l_returnflag
        |  ORDER BY l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok,
        |NTH_VALUE(l_orderkey, 3) OVER (PARTITION BY l_returnflag
        |  ORDER BY l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_ok
        |FROM lineitem ORDER BY l_returnflag""".stripMargin)),

    // ---- Q45: strict-order funnel (view → click → purchase). One
    // shuffle on user_id: the three stage timestamps are stacked window
    // minima over the SAME partitioning (Spark reuses the exchange for
    // every window pass), then a per-user rollup and a scalar count —
    // the plan a 100 TB funnel wants (no per-stage self-joins). ----
    QDef("q45_funnel",
      (s, d) => {
        val w = Window.partitionBy("user_id")
        val e = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
          .withColumn("t_view",
            min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("t_click",
            min(when(col("event_type") === "click" && col("ts") > col("t_view"),
              col("ts"))).over(w))
          .withColumn("t_purchase",
            min(when(col("event_type") === "purchase" && col("ts") > col("t_click"),
              col("ts"))).over(w))
        e.groupBy("user_id")
          .agg(min("t_view").as("tv"), min("t_click").as("tc"),
            min("t_purchase").as("tp"))
          .agg(count(when(col("tv").isNotNull, 1)).as("n_view"),
            count(when(col("tc").isNotNull, 1)).as("n_view_click"),
            count(when(col("tp").isNotNull, 1)).as("n_full_funnel"))
      },
      Some("""WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view,
        |  (SELECT COUNT(*) FROM c) AS n_view_click,
        |  (SELECT COUNT(*) FROM p) AS n_full_funnel""".stripMargin)),

    // ---- Q46: CDC → SCD2 dimension build. Each user's event_type
    // change stream compacts to distinct-value runs with
    // [valid_from, valid_to) intervals — one user_id exchange, two
    // window passes (see ops/Cdc.scala). ----
    QDef("q46_scd2",
      (s, d) => graft.ops.Cdc.scd2(
          events(s, d).select("user_id", "event_id", "ts", "event_type"),
          key = Seq("user_id"), tsCol = "ts", tieBreak = "event_id",
          valueCols = Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          tsFmtMicro(col("valid_from")).as("valid_from"),
          tsFmtMicro(col("valid_to")).as("valid_to"),
          col("is_current"))
        .orderBy("user_id", "valid_from", "event_type"),
      Some("""WITH ordered AS (SELECT user_id, event_id, ts, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |compacted AS (SELECT user_id, event_id, ts, event_type FROM ordered
        |  WHERE prev IS NULL OR prev <> event_type),
        |v AS (SELECT user_id, event_type, ts AS vf,
        |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
        |  FROM compacted)
        |SELECT user_id, event_type,
        |  strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        |  strftime(vt, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
        |  (vt IS NULL) AS is_current
        |FROM v ORDER BY user_id, valid_from, event_type""".stripMargin)),

    // ---- PII detect + redact. The corpus is synthetic (no organic
    // PII), so the query injects a deterministic contact block into
    // every 7th doc and both engines must agree on counts, flags, and
    // the redacted text's length — engine parity on the regex surface
    // is what's under test. ----
    QDef("text_pii",
      (s, d) => {
        val injected = when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com tel +56 9 1234 5678"))).otherwise(col("text"))
        TextAnalysis.piiFeatures(documents(s, d).withColumn("text", injected))
          .select(col("doc_id"),
            col("n_emails").cast("long").as("n_emails"),
            col("n_phones").cast("long").as("n_phones"),
            col("has_pii"),
            length(col("redacted")).cast("long").as("redacted_len"))
          .orderBy("doc_id")
      },
      Some(s"""WITH inj AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact user'
        |      || CAST(doc_id AS VARCHAR) || '@example.com tel +56 9 1234 5678'
        |    ELSE text END AS text FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.emailRe}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.phoneRe}')) AS BIGINT) AS n_phones,
        |  (len(regexp_extract_all(text, '${TextAnalysis.emailRe}')) > 0
        |    OR len(regexp_extract_all(text, '${TextAnalysis.phoneRe}')) > 0) AS has_pii,
        |  CAST(length(regexp_replace(regexp_replace(text, '${TextAnalysis.emailRe}',
        |    '[EMAIL]', 'g'), '${TextAnalysis.phoneRe}', '[PHONE]', 'g')) AS BIGINT)
        |    AS redacted_len
        |FROM inj ORDER BY doc_id""".stripMargin)),

    // ---- Q51: a bounded linear recursion (the oracle keeps the
    // WITH RECURSIVE form): each step folds one nation's customer count
    // into a running total. A linear recursion whose step is associative
    // IS a prefix sum — so the engine-side plan is the closed form: one
    // partial-agg scan of customer (25 output rows), then a prefix sum
    // over those 25 rows. The r4 plan executed the recursion
    // literally — 25 sequential Spark jobs re-joining customer⋈nation per
    // depth, 8.1 s for a 25-row result (VERDICT r4 #1); even recursing
    // over a 25-row LocalRelation, Spark's UnionLoop pays ~25 sequential
    // job launches (~3 s floor measured). Per-iteration driver-blocking
    // work never scales; prefix-structured recursions must be rewritten
    // as closed-form scans. RecursiveCteSpec pins that Spark 4's literal
    // WITH RECURSIVE execution agrees with this closed form.
    // The prefix sum itself is a theta self-join (cnt where nationkey <
    // depth) rather than a partition-less cumulative window: both are
    // bounded — the domain is <= 25 rows REGARDLESS of customer's size,
    // the aggregate runs before either — but the empty-partition-spec
    // window trips Spark's "Moving all data to a single partition" warn
    // on every bench run, and a 25x25 broadcast nested loop states the
    // boundedness in the plan instead of in a comment (r13; values
    // bit-identical, RecursiveCteSpec unchanged). ----
    QDef("q51_recursive_cte",
      (s, d) => {
        // total(depth) = Σ cnt(nationkey) for nationkey < depth, depth 0..24
        val cntsPlan = nation(s, d).select(col("n_nationkey"))
          .join(customer(s, d).select(col("c_nationkey"), col("c_custkey")),
            col("n_nationkey") === col("c_nationkey"), "left")
          .groupBy(col("n_nationkey").as("nationkey"))
          .agg(count(col("c_custkey")).as("cnt"))
          .filter(col("nationkey") <= 24)
        // a self-join here would reference the aggregate TWICE; the r14
        // shape collected the <= 25-row aggregate and self-joined the
        // LocalRelation so "customer is scanned once" is a plan property.
        // The aggregate is on the driver already, and a prefix sum over
        // <= 25 longs is driver arithmetic — the same two-phase pattern
        // as Ids.stableIds (distributed partials, driver cumsum): one
        // job, one customer scan, no second join. The r15 q51 A/B
        // (SCALE.md "Round 15 — the r14 sf0.1 regression"; sf0.1,
        // min-of-5 interleaved): agg-alone 0.265 s / r13
        // theta-self-join 0.250 s / r14 collect+join 0.389 s / this
        // cumsum 0.360 s; at sf10: agg-alone 0.660 / r13 0.225 / r14
        // 0.760 / cumsum 0.697. The r13 single-plan shape reading FASTER
        // than the bare aggregate it contains is the tell: under the
        // bench's count() action Catalyst prunes the customer-count
        // values out of that plan entirely (count needs only the 25
        // group keys, so count(c_custkey) and most of the scan go) —
        // the old committed numbers timed a hollowed plan. The collect
        // forces the real work; cumsum sits within ~0.04 s of the
        // honest floor (the aggregate itself) at both SFs.
        val cnt = cntsPlan.collect()
          .map(r => r.getAs[Number](0).intValue -> r.getLong(1)).toMap
        var acc = 0L
        val totals = (0 to 24).map { d =>
          val row = (d, acc); acc += cnt.getOrElse(d, 0L); row }
        import s.implicits._
        totals.toDF("depth", "total").orderBy("depth")
      },
      Some("""WITH RECURSIVE r(depth, total) AS (
        |  SELECT 0, CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT depth + 1, total + (
        |    SELECT COUNT(*) FROM customer c JOIN nation n
        |    ON c.c_nationkey = n.n_nationkey WHERE n.n_nationkey = depth)
        |  FROM r WHERE depth < 24)
        |SELECT depth, total FROM r ORDER BY depth""".stripMargin)),

    // ---- Q50: running DISTINCT count over a window. Spark has no
    // COUNT(DISTINCT) OVER; size(collect_set) over the same frame is
    // the equivalent (event_id is unique, so RANGE peers ≡ ROWS and
    // both engines see identical frames). ----
    QDef("q50_window_distinct",
      (s, d) => events(s, d)
        .withColumn("n_types_so_far",
          size(collect_set(col("event_type")).over(
            Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
            .cast("long"))
        .select(col("event_id"), col("user_id"), col("n_types_so_far"))
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id,
        |  CAST(COUNT(DISTINCT event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS n_types_so_far
        |FROM events ORDER BY event_id""".stripMargin)),

    // ---- Q49: correlated LATERAL derived table (top-2 customers per
    // nation). Catalyst decorrelates the LIMIT-2 subquery into a
    // window/rank plan — the declarative form of grouped top-k. ----
    QDef("q49_lateral",
      (s, d) => {
        nation(s, d).createOrReplaceTempView("nation_l")
        customer(s, d).createOrReplaceTempView("customer_l")
        s.sql("""SELECT n.n_name, t.c_name, ROUND(t.c_acctbal, 2) AS bal
          |FROM nation_l n,
          |LATERAL (SELECT c_name, c_acctbal FROM customer_l c
          |  WHERE c.c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
          |ORDER BY n_name, bal DESC, c_name""".stripMargin)
      },
      Some("""SELECT n.n_name, t.c_name, ROUND(t.c_acctbal, 2) AS bal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n_name, bal DESC, c_name""".stripMargin)),

    // ---- Q48: weekly retention cohorts. Both aggregations and the
    // join cluster on user_id, so the cohort assignment reuses one
    // exchange; the final rollup is a small (cohort, offset) grid. ----
    // Plan: ONE shuffle on user_id (collect_set partial-aggregates
    // map-side; per-user state is bounded by the number of distinct
    // weeks, not events), cohort = array_min of the same set — no
    // second pass, no distinct, no join — then a second tiny shuffle
    // over the (cohort, offset) domain. The previous form paid three
    // wide shuffles plus a join for the same answer.
    QDef("q48_retention",
      (s, d) => {
        val e = events(s, d)
          .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        e.groupBy("user_id").agg(collect_set("w").as("ws"))
          .select(array_min(col("ws")).as("cohort"), explode(col("ws")).as("w"))
          .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
            ((unix_timestamp(col("w")) - unix_timestamp(col("cohort"))) / 604800)
              .cast("long").as("week_offset"))
          .groupBy("cohort_week", "week_offset")
          .agg(count(lit(1)).as("n_active"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH e AS (SELECT user_id, date_trunc('week', ts) AS w FROM events),
        |f AS (SELECT user_id, MIN(w) AS cohort FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, w FROM e)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
        |  CAST((epoch(w) - epoch(cohort)) / 604800 AS BIGINT) AS week_offset,
        |  COUNT(*) AS n_active
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)),

    // ---- Q47: per-user EWMA of event values — sequential fold per key
    // after one clustering shuffle (ops/TimeSeries.scala). The oracle
    // writes (1 - 0.3), not 0.7: both engines must derive 1−α by the
    // same double subtraction or the folds diverge in the last bits. ----
    QDef("q47_ewma",
      (s, d) => graft.ops.TimeSeries.ewma(
          events(s, d).select("user_id", "event_id", "ts", "value"),
          key = "user_id", tsCol = "ts", tieBreak = "event_id",
          valueCol = "value", alpha = 0.3)
        .select(col("user_id"), col("n_events"), col("ewma"))
        .orderBy("user_id"),
      Some("""SELECT user_id, COUNT(*) AS n_events,
        |  ROUND(list_reduce(list(value ORDER BY ts, event_id),
        |    (acc, x) -> 0.3 * x + (1 - 0.3) * acc), 4) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- Q43: quantile sketch, q33-style — the sketch value itself is
    // engine/merge-order specific, so the declared output is the exact
    // percentile plus an in-query assertion that the sketch landed within
    // its documented error (approx_percentile accuracy 1000 ⇒ ~0.1%
    // rank error; 2% value headroom covers it on any partitioning). ----
    QDef("q43_approx_percentile",
      // NO Spread (r18 A/B): exchanging raw rows to parallelize the
      // interpreted GK partials lost to the 32-way buffer merge +
      // exchange latency (0.76 s → 0.92 s measured at sf0.1)
      (s, d) => events(s, d)
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 2).as("exact_p50"),
          expr("approx_percentile(value, 0.5, 1000)").as("ap"),
          round(expr("percentile(value, 0.95)"), 2).as("exact_p95"),
          expr("approx_percentile(value, 0.95, 1000)").as("ap95"))
        .select(col("event_type"), col("exact_p50"), col("exact_p95"),
          ((abs(col("ap") - col("exact_p50")) <=
            greatest(abs(col("exact_p50")) * 0.02, lit(0.5))) &&
           (abs(col("ap95") - col("exact_p95")) <=
            greatest(abs(col("exact_p95")) * 0.02, lit(0.5)))).as("sketch_in_bounds"))
        .orderBy("event_type"),
      Some("""SELECT event_type, ROUND(quantile_cont(value, 0.5), 2) AS exact_p50,
        |ROUND(quantile_cont(value, 0.95), 2) AS exact_p95,
        |true AS sketch_in_bounds
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- Q28: cube (full grouping-set lattice) ----
    QDef("q28_cube",
      (s, d) => lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("_all_")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("_all_")).as("l_linestatus"), col("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT COALESCE(l_returnflag,'_all_') AS l_returnflag,
        |COALESCE(l_linestatus,'_all_') AS l_linestatus, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- Q29: EXISTS subquery (semi-join reduction) ----
    QDef("q29_exists_subquery",
      (s, d) => orders(s, d)
        .join(lineitem(s, d).filter(col("l_quantity") >= 49).select("l_orderkey"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey FROM orders WHERE EXISTS (
        |SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- Q30: string function battery ----
    QDef("q30_string_funcs",
      (s, d) => orders(s, d)
        .select(col("o_orderkey"),
          concat(col("o_orderpriority"), lit("-"), col("o_orderstatus")).as("tag"),
          lpad(col("o_orderkey").cast("string"), 10, "0").as("padded"),
          regexp_replace(col("o_orderpriority"), "-", "_").as("norm"),
          instr(col("o_orderpriority"), "-").cast("long").as("dashpos"),
          regexp_extract(col("o_orderpriority"), "(\\d+)", 1).as("prio_num"))
        .orderBy("o_orderkey")
        .limit(1000),
      Some("""SELECT o_orderkey,
        |o_orderpriority || '-' || o_orderstatus AS tag,
        |LPAD(CAST(o_orderkey AS VARCHAR), 10, '0') AS padded,
        |REPLACE(o_orderpriority, '-', '_') AS norm,
        |CAST(STRPOS(o_orderpriority, '-') AS BIGINT) AS dashpos,
        |regexp_extract(o_orderpriority, '(\d+)', 1) AS prio_num
        |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // ---- Q31: array_agg with deterministic ordering ----
    QDef("q31_array_agg",
      (s, d) => embeddings(s, d)
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          concat_ws(",", sort_array(collect_list(col("vec_id")))).as("ids"))
        .orderBy("label"),
      Some("""SELECT label, COUNT(*) AS n,
        |array_to_string(list_sort(list(vec_id)), ',') AS ids
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin)),

    // ---- Q36: ranking-function battery. PARTITION BY event_type has a
    // handful of keys, so the window form single-threads each key's
    // sort (13.9 s = 10.2× oracle at sf10 — r17 VERDICT item 4); the
    // ordering (value, event_id) is a TOTAL order per key, so all five
    // functions are closed forms of (rn, n) from Ids.groupRanks' two-
    // phase range-partitioned rank — parallelism = partition count, not
    // key count. Footer-count gated (the q06 pattern): below 1 M rows
    // the per-key sorts are sub-second and groupRanks' extra jobs
    // (range sample, checkpoint, counts) cost more than they save
    // (A/B'd at sf0.1: 0.53 s window vs 0.98 s two-phase); above, the
    // window's key-count parallelism cap dominates and the two-phase
    // wins (13.9 → ~7.5 s at sf10). Identical rows either way — the
    // gate picks a PLAN, never semantics. ntile(k): first n%k buckets
    // take ⌊n/k⌋+1 rows (Spark and DuckDB agree on this split). ----
    QDef("q36_rank_funcs",
      (s, d) => {
        if (Tables.footerRowCount(s, d, "events") <= 1000000L) {
          val w = Window.partitionBy("event_type")
            .orderBy(col("value"), col("event_id"))
          events(s, d)
            .select(col("event_id"), col("event_type"),
              rank().over(w).cast("long").as("rnk"),
              dense_rank().over(w).cast("long").as("drnk"),
              round(percent_rank().over(w), 4).as("prnk"),
              ntile(4).over(w).cast("long").as("quartile"),
              round(cume_dist().over(w), 4).as("cd"))
            .orderBy("event_id")
            .limit(5000)
        } else {
          val rn = col("__rn")
          val n = col("__n")
          val n1 = (n - 1).cast("double")
          // integer ntile(4) arithmetic on (rn, n): big buckets first
          val bs = floor(n / 4)         // ⌊n/4⌋ (double-safe: n ≤ 2^53)
          val rem = n % 4
          val bigCut = rem * (bs + 1)
          val quartile = when(rn <= bigCut,
              floor((rn - 1) / (bs + 1)) + 1)
            .otherwise(rem + floor((rn - bigCut - 1) / bs) + 1)
          Ids.groupRanks(
              events(s, d).select(col("event_id"), col("event_type"), col("value")),
              Seq("event_type"), Seq("value", "event_id"))
            .select(col("event_id"), col("event_type"),
              rn.cast("long").as("rnk"),
              rn.cast("long").as("drnk"),
              round(when(n1 === 0, 0.0).otherwise((rn - 1).cast("double") / n1), 4)
                .as("prnk"),
              quartile.cast("long").as("quartile"),
              round(rn.cast("double") / n.cast("double"), 4).as("cd"))
            .orderBy("event_id")
            .limit(5000)
        }
      },
      Some("""SELECT event_id, event_type,
        |RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
        |ROUND(PERCENT_RANK() OVER w, 4) AS prnk,
        |CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |ROUND(CUME_DIST() OVER w, 4) AS cd
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_id LIMIT 5000""".stripMargin)),

    // ---- Q37: array math over embeddings (HOF fold = sequential, so the
    // accumulation order matches DuckDB's list aggregates bit-for-bit) ----
    QDef("q37_array_math",
      (s, d) => {
        val emb = col("embedding").cast("array<double>")
        embeddings(s, d)
          .select(col("vec_id"),
            round(Similarity.norm(emb), 4).as("l2"),
            round(aggregate(emb, lit(0.0), (a, x) => a + x) / size(emb), 4).as("mean"),
            round(array_max(emb), 4).as("mx"),
            round(array_min(emb), 4).as("mn"))
          .orderBy("vec_id")
          .limit(1000)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT vec_id, ROUND(sqrt(list_dot_product(emb, emb)), 4) AS l2,
        |ROUND(list_aggregate(emb, 'sum') / len(emb), 4) AS mean,
        |ROUND(list_aggregate(emb, 'max'), 4) AS mx,
        |ROUND(list_aggregate(emb, 'min'), 4) AS mn
        |FROM e ORDER BY vec_id LIMIT 1000""".stripMargin)),

    // ---- Q38: per-column profile sweep over orders ----
    QDef("q38_column_profile",
      (s, d) => graft.ops.Profiler.profileSingleScan(orders(s, d)).orderBy("column"),
      Some(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .map(c => s"""SELECT '$c' AS "column", COUNT(*) AS n_rows, """ +
          s"COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct FROM orders")
        .mkString("", " UNION ALL ", """ ORDER BY "column""""))),

    // ---- Q38b: the approx profile (Profiler.profileApprox) — the 100 TB
    // path: HLL++ per column, one pass, no Expand. The HLL estimate is
    // engine-specific, so (q33 pattern) the declared output carries the
    // exact row/null counts plus an in-query sanity assertion on the
    // estimate; the 15% accuracy bound vs the exact profile is pinned by
    // ProfilerSpec. ----
    QDef("q38b_column_profile_approx",
      (s, d) => {
        val nonnull = col("n_rows") - col("n_nulls")
        graft.ops.Profiler.profileApprox(orders(s, d))
          .select(col("column"), col("n_rows"), col("n_nulls"),
            (col("approx_distinct") >= least(nonnull, lit(1L)) &&
              col("approx_distinct") <= nonnull * 1.5 + 16).as("approx_sane"))
          .orderBy("column")
      },
      Some(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .map(c => s"""SELECT '$c' AS "column", COUNT(*) AS n_rows, """ +
          s"COUNT(*) - COUNT($c) AS n_nulls, true AS approx_sane FROM orders")
        .mkString("", " UNION ALL ", """ ORDER BY "column""""))),

    // ---- footer-stat datasheet: COUNT(*) + numeric MIN/MAX answered from
    // parquet footer statistics (DSv2 PushedAggregation — plan pinned by
    // FooterStatsSpec). The 100 TB shape of "what is in this table":
    // row-group metadata only, zero data pages read. Timestamp/string
    // min/max stay off this path on purpose (writers may truncate string
    // stats; Spark's footer fast-path excludes timestamps). ----
    QDef("profile_footer_stats",
      (s, d) => Tables.footerScan(s, d, "lineitem")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_orderkey"),
          max(col("l_orderkey")).as("max_orderkey"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price")),
      Some("""SELECT COUNT(*) AS n_rows,
        |MIN(l_orderkey) AS min_orderkey, MAX(l_orderkey) AS max_orderkey,
        |MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin)),

    // ================= north-star: dedup =================
    QDef("dedup_exact",
      (s, d) => Dedup.exact(documents(s, d)).orderBy("keep_id"),
      Some("""SELECT md5(text) AS h, CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    QDef("dedup_ngram_jaccard",
      (s, d) => Dedup.tokenJaccardPairs(
          documents(s, d).filter(col("doc_id") < 300), threshold = 0.2)
        .orderBy("doc_a", "doc_b"),
      Some("""WITH d AS (SELECT doc_id,
        |  list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.2 ORDER BY doc_a, doc_b""".stripMargin)),

    // Cluster assignment after candidate pairs: connected components by
    // min-label propagation (see Dedup.connectedComponents). The oracle
    // replays the same pair set, then takes the transitive closure with a
    // recursive CTE — component id = LEAST(self, min reachable).
    QDef("dedup_clusters",
      (s, d) => {
        val docs = documents(s, d).filter(col("doc_id") < 300)
        val pairs = Dedup.tokenJaccardPairs(docs, threshold = 0.5)
        Dedup.clusters(docs, pairs)
          .select(col("doc_id"), col("cluster_id"),
            col("cluster_size").cast("long").as("cluster_size"), col("is_keeper"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE d AS (SELECT doc_id,
        |  list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 300),
        |pairs AS (SELECT doc_a, doc_b FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id) WHERE jaccard >= 0.5),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (SELECT u, v FROM edges
        |  UNION SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
        |    WHERE e.v <> r.a),
        |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        |  FROM reach GROUP BY a),
        |lab AS (SELECT dd.doc_id, COALESCE(c.cluster_id, dd.doc_id) AS cluster_id
        |  FROM d dd LEFT JOIN comp c ON dd.doc_id = c.doc_id)
        |SELECT doc_id, cluster_id,
        |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
        |  doc_id = cluster_id AS is_keeper
        |FROM lab ORDER BY doc_id""".stripMargin)),

    // ---- Repeated-substring spans (Dedup.duplicateSpans): token
    // 5-grams occurring in >1 doc mark duplicated start positions;
    // adjacent positions merge to maximal spans (gaps-and-islands).
    // Substring-level dedup — catches verbatim repeats inside docs
    // that are NOT document-level duplicates. ----
    QDef("dedup_substring_spans",
      (s, d) => Dedup.duplicateSpans(documents(s, d), l = 5)
        .orderBy("doc_id", "span_start"),
      Some("""WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |g AS (SELECT doc_id,
        |    unnest([i - 1 FOR i IN generate_series(1, len(t) - 4)]) AS pos,
        |    unnest([md5(array_to_string(t[i:i+4], ' '))
        |      FOR i IN generate_series(1, len(t) - 4)]) AS h
        |  FROM tok),
        |d AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
        |m AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (h)),
        |s AS (SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM m)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos) + 4 AS BIGINT) AS span_end,
        |  CAST(MAX(pos) + 4 - MIN(pos) + 1 AS BIGINT) AS span_tokens
        |FROM s GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin)),

    // ---- Cut the duplicated spans (Dedup.cutSpans): enforcement half
    // of dedup_substring_spans — every covered token position drops,
    // survivors rejoin in order; per-row HOF filter, no extra corpus
    // shuffle. ----
    QDef("dedup_cut_spans",
      (s, d) => Dedup.cutSpans(documents(s, d), l = 5).orderBy("doc_id"),
      Some("""WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |g AS (SELECT doc_id,
        |    unnest([i - 1 FOR i IN generate_series(1, len(t) - 4)]) AS pos,
        |    unnest([md5(array_to_string(t[i:i+4], ' '))
        |      FOR i IN generate_series(1, len(t) - 4)]) AS h
        |  FROM tok),
        |d AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
        |m AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (h)),
        |s AS (SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM m),
        |sp0 AS (SELECT doc_id, MIN(pos) AS a, MAX(pos) + 4 AS b
        |  FROM s GROUP BY doc_id, island),
        |sp AS (SELECT doc_id, list([a, b]) AS spans FROM sp0 GROUP BY doc_id),
        |c AS (SELECT tok.doc_id, tok.t, COALESCE(sp.spans, []) AS spans
        |  FROM tok LEFT JOIN sp USING (doc_id))
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(len(t) - len([i FOR i IN generate_series(1, len(t))
        |    IF len(list_filter(spans, x -> i - 1 BETWEEN x[1] AND x[2])) = 0])
        |    AS BIGINT) AS n_cut,
        |  COALESCE(array_to_string([t[i] FOR i IN generate_series(1, len(t))
        |    IF len(list_filter(spans, x -> i - 1 BETWEEN x[1] AND x[2])) = 0],
        |    ' '), '') AS clean_text
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- Keep-BEST near-dup representative (Dedup.bestRepresentatives):
    // same clusters as dedup_clusters, but the survivor is the argmax of
    // the model quality score (ties → lowest id) — the policy curation
    // pipelines actually want. GroupedTopK top-1 per cluster. ----
    QDef("dedup_keep_best",
      (s, d) => {
        val docs = documents(s, d).filter(col("doc_id") < 300)
        val pairs = Dedup.tokenJaccardPairs(docs, threshold = 0.5)
        Dedup.bestRepresentatives(docs, pairs,
            TextAnalysis.qualityScoreExpr(col("text")))
          .orderBy("cluster_id")
      },
      Some("""WITH RECURSIVE d AS (SELECT doc_id, text,
        |  list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 300),
        |pairs AS (SELECT doc_a, doc_b FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id) WHERE jaccard >= 0.5),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (SELECT u, v FROM edges
        |  UNION SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
        |    WHERE e.v <> r.a),
        |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        |  FROM reach GROUP BY a),
        |lab AS (SELECT dd.doc_id, dd.text,
        |    COALESCE(c.cluster_id, dd.doc_id) AS cluster_id
        |  FROM d dd LEFT JOIN comp c ON dd.doc_id = c.doc_id),
        |f AS (SELECT doc_id, cluster_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) /
        |    GREATEST(len(string_split_regex(trim(text), '\s+')), 1), 4) AS stop_ratio,
        |  ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) /
        |    GREATEST(length(text), 1), 4) AS punct_ratio,
        |  ROUND(CAST(length(text) - (len(string_split_regex(trim(text), '\s+')) - 1) AS DOUBLE) /
        |    GREATEST(len(string_split_regex(trim(text), '\s+')), 1), 4) AS avg_token_len
        |  FROM lab),
        |q AS (SELECT doc_id, cluster_id,
        |  ROUND(1.0 / (1.0 + exp(-(-1.0 + 0.55 * ln(1.0 + n_tokens)
        |    + 2.0 * stop_ratio - 3.0 * punct_ratio - 0.05 * avg_token_len))), 4) AS score
        |  FROM f),
        |r AS (SELECT cluster_id, doc_id AS keep_id, score AS keep_score,
        |    ROW_NUMBER() OVER (PARTITION BY cluster_id
        |      ORDER BY score DESC, doc_id) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        |  FROM q)
        |SELECT cluster_id, keep_id, keep_score, cluster_size FROM r
        |WHERE rk = 1 ORDER BY cluster_id""".stripMargin)),

    // Portable (md5-based) hashing so DuckDB replays the exact signature
    // pipeline: shingle → (h1,h2) mod 2^31-1 → 64 double-hash minima →
    // 16×4 band keys → candidate join → agreement fraction. The oracle
    // joins on the raw band key where Spark joins on xxhash64(band key) —
    // identical pair sets modulo a ~2^-64 hash collision.
    QDef("dedup_minhash_lsh",
      (s, d) => Dedup.minhashCandidates(documents(s, d), minEst = 0.25,
          portable = true,
          corpusDocs = Some(Tables.footerRowCount(s, d, "documents")))
        .orderBy("doc_a", "doc_b"),
      Some("""WITH tk AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |          FOR i IN generate_series(1, len(t)-2)]
        |    ELSE [array_to_string(t, ' ')] END) AS s FROM tk),
        |h AS (SELECT doc_id,
        |    CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) % 2147483647 AS h1,
        |    CAST(('0x'||substr(md5(s),17,15)) AS BIGINT) % 2147483647 AS h2 FROM sh),
        |mins AS (SELECT doc_id, i, MIN(h1 + i*h2) AS mn
        |  FROM h CROSS JOIN generate_series(0,63) g(i) GROUP BY doc_id, i),
        |sig AS (SELECT doc_id, list(mn ORDER BY i) AS sg FROM mins GROUP BY doc_id),
        |banded AS (SELECT doc_id, sg, b,
        |    array_to_string(sg[4*b+1:4*b+4], ',') AS bkey
        |  FROM sig CROSS JOIN generate_series(0,15) g(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |    a.sg AS sa, b2.sg AS sb
        |  FROM banded a JOIN banded b2 ON a.b = b2.b AND a.bkey = b2.bkey
        |    AND a.doc_id < b2.doc_id)
        |SELECT doc_a, doc_b, est_jaccard FROM (
        |  SELECT doc_a, doc_b,
        |    ROUND(len([i FOR i IN generate_series(1,64) IF sa[i] = sb[i]]) / 64.0,
        |      4) AS est_jaccard FROM cand)
        |WHERE est_jaccard >= 0.25 ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- LSH recall grading (Dedup.lshRecall): exact-Jaccard truth set
    // vs the banded candidate set on a bounded subset — the quantified
    // "are (perms, bands) good enough?" number, value-checked because
    // the portable md5 pipeline is engine-exact. ----
    QDef("dedup_lsh_recall",
      (s, d) => Dedup.lshRecall(
        documents(s, d).filter(col("doc_id") < 300), threshold = 0.5),
      Some("""WITH tk AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
        |  WHERE doc_id < 300),
        |shl AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
        |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |          FOR i IN generate_series(1, len(t)-2)]
        |    ELSE [array_to_string(t, ' ')] END) AS toks FROM tk),
        |truth AS (SELECT doc_a, doc_b FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
        |  FROM shl a JOIN shl b ON a.doc_id < b.doc_id) WHERE jaccard >= 0.5),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |          FOR i IN generate_series(1, len(t)-2)]
        |    ELSE [array_to_string(t, ' ')] END) AS s FROM tk),
        |h AS (SELECT doc_id,
        |    CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) % 2147483647 AS h1,
        |    CAST(('0x'||substr(md5(s),17,15)) AS BIGINT) % 2147483647 AS h2 FROM sh),
        |mins AS (SELECT doc_id, i, MIN(h1 + i*h2) AS mn
        |  FROM h CROSS JOIN generate_series(0,63) g(i) GROUP BY doc_id, i),
        |sig AS (SELECT doc_id, list(mn ORDER BY i) AS sg FROM mins GROUP BY doc_id),
        |banded AS (SELECT doc_id, b,
        |    array_to_string(sg[4*b+1:4*b+4], ',') AS bkey
        |  FROM sig CROSS JOIN generate_series(0,15) g(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        |  FROM banded a JOIN banded b2 ON a.b = b2.b AND a.bkey = b2.bkey
        |    AND a.doc_id < b2.doc_id),
        |j AS (SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
        |    t.doc_a IS NOT NULL AS in_t, c.doc_a IS NOT NULL AS in_c
        |  FROM truth t FULL OUTER JOIN cand c
        |    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
        |SELECT COUNT(*) FILTER (in_t) AS n_truth,
        |  COUNT(*) FILTER (in_c) AS n_cand,
        |  COUNT(*) FILTER (in_t AND in_c) AS n_hit,
        |  ROUND(COUNT(*) FILTER (in_t AND in_c) /
        |    CAST(COUNT(*) FILTER (in_t) AS DOUBLE), 4) AS recall,
        |  ROUND(COUNT(*) FILTER (in_t AND in_c) /
        |    CAST(COUNT(*) FILTER (in_c) AS DOUBLE), 4) AS precision
        |FROM j""".stripMargin)),

    // maxHamming=3 ⇒ the multi-index pigeonhole (3-block compound keys
    // over maxHamming+3 blocks; single blocks below 65 k docs — same
    // guarantee, cheaper explode) has recall exactly 1, so the declared
    // semantic is simply "all pairs at hamming ≤ 3" — the oracle
    // recomputes the 60-bit portable simhash and cross-joins. The corpus
    // count comes from parquet footer metadata (zero Spark jobs).
    QDef("dedup_simhash",
      (s, d) => Dedup.simhashCandidates(documents(s, d), maxHamming = 3,
          portable = true,
          corpusDocs = Some(Tables.footerRowCount(s, d, "documents")))
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b"),
      Some("""WITH tk AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM documents),
        |h AS (SELECT doc_id,
        |    CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) AS h FROM tk),
        |bits AS (SELECT doc_id, i, SUM(((h >> i) & 1) * 2 - 1) AS bsum
        |  FROM h CROSS JOIN generate_series(0,59) g(i) GROUP BY doc_id, i),
        |sig AS (SELECT doc_id, CAST(SUM(CASE WHEN bsum > 0
        |    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS sg
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sg, b.sg)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sg, b.sg)) <= 3 ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- Q32: native pivot (dynamic columns from data) ----
    // r17: same containment-rule treatment as q20 (stage-probed at
    // sf100: the pivot pre-aggregate's map side burned 124 s / 110 s GC
    // partially aggregating 600 M rows into 574 M (key space =
    // l_partkey × 3 flags, grows with the fact table)). The raw
    // (l_partkey, l_returnflag) stream is repartitioned by the group
    // key once; the pivot — still the exercised relational operator —
    // then aggregates exchange-free with keys/width state per task.
    QDef("q32_pivot",
      (s, d) => lineitem(s, d)
        .select("l_partkey", "l_returnflag")
        .repartition(col("l_partkey"))
        .groupBy("l_partkey")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .count()
        .select(col("l_partkey"),
          coalesce(col("A"), lit(0L)).as("a_cnt"),
          coalesce(col("N"), lit(0L)).as("n_cnt"),
          coalesce(col("R"), lit(0L)).as("r_cnt"))
        .orderBy("l_partkey")
        .limit(1000),
      // DuckDB SUM(int) is HUGEINT → pandas float64; Spark counts are int64.
      // The driver's hash is dtype-sensitive, so CAST the sums to BIGINT.
      Some("""SELECT l_partkey,
        |CAST(SUM(CASE WHEN l_returnflag='A' THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
        |CAST(SUM(CASE WHEN l_returnflag='N' THEN 1 ELSE 0 END) AS BIGINT) AS n_cnt,
        |CAST(SUM(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) AS BIGINT) AS r_cnt
        |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey LIMIT 1000""".stripMargin)),

    // ---- Q33: sketches. The HLL estimate itself is engine-specific, so
    // the declared output is the exact count plus an in-query assertion
    // that the sketch landed within its error bound (HLL++ default rsd
    // 0.05; 0.15 leaves 3σ headroom at any scale). The oracle then checks
    // the exact count and that the assertion held. ----
    QDef("q33_approx_distinct",
      (s, d) => lineitem(s, d).agg(
          countDistinct(col("l_partkey")).as("exact_distinct"),
          approx_count_distinct(col("l_partkey")).as("approx"))
        .select(col("exact_distinct"),
          (abs(col("approx") - col("exact_distinct")) <=
            col("exact_distinct") * 0.15).as("approx_within_15pct")),
      Some("""SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct,
        |true AS approx_within_15pct FROM lineitem""".stripMargin)),

    // ---- KMV sketch set-ops: distinct users per event type plus
    // union/intersection of two types via sketch algebra. Unlike the HLL
    // in q33, KMV under the portable md5 hash is a deterministic function
    // of the value set, so every ESTIMATE is value-checked against the
    // oracle replaying the same sketch — and merged sketches equal the
    // sketch of the union, which the oracle verifies by building its
    // union sketch from the raw rows. ----
    QDef("sketch_kmv_setops",
      (s, d) => {
        import graft.ops.Sketches
        val k = 64
        val kmvAgg = udaf(graft.ops.SketchAggregators.kmv(k),
          org.apache.spark.sql.Encoders.scalaLong)
        val ev = events(s, d)
        // 5 rows; checkpointed because the per-type branch and the
        // set-op branch both reuse it (a union of an un-materialized
        // plan recomputes it per branch)
        val typed = ev.groupBy(col("event_type").as("set_name"))
          .agg(kmvAgg(Sketches.kmvHash(col("user_id"))).as("kmv"),
            countDistinct(col("user_id")).as("exact_users"))
          .localCheckpoint()
        val perType = typed.select(col("set_name"), col("exact_users"),
          Sketches.kmvEstimate(col("kmv"), k).as("kmv_est"))
        // click/view sketches extracted by conditional agg over 5 rows —
        // no per-branch filter jobs; exact |A∩B| needs NO intersect
        // operator: |A|+|B|−|A∪B| is exact inclusion–exclusion
        val cv = typed.agg(
          first(when(col("set_name") === "click", col("kmv")), ignoreNulls = true).as("ka"),
          first(when(col("set_name") === "view", col("kmv")), ignoreNulls = true).as("kb"),
          first(when(col("set_name") === "click", col("exact_users")), ignoreNulls = true).as("ea"),
          first(when(col("set_name") === "view", col("exact_users")), ignoreNulls = true).as("eb"))
        val exU = ev.filter(col("event_type").isin("click", "view"))
          .agg(countDistinct("user_id").as("exact_u"))
        val both = cv.crossJoin(exU)
        val merged = Sketches.kmvMerge(col("ka"), col("kb"), k)
        val uniRow = both.select(lit("union:click+view").as("set_name"),
          col("exact_u").as("exact_users"),
          Sketches.kmvEstimate(merged, k).as("kmv_est"))
        val intRow = both.select(lit("intersect:click+view").as("set_name"),
          (col("ea") + col("eb") - col("exact_u")).as("exact_users"),
          round(Sketches.kmvEstimate(col("ka"), k) + Sketches.kmvEstimate(col("kb"), k)
            - Sketches.kmvEstimate(merged, k), 4).as("kmv_est"))
        perType.unionByName(uniRow).unionByName(intRow).orderBy("set_name")
      },
      Some("""WITH h AS (SELECT DISTINCT event_type,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM events),
        |r AS (SELECT event_type, h, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd FROM h),
        |te AS (SELECT event_type AS set_name,
        |    CASE WHEN MAX(nd) < 64 THEN ROUND(CAST(MAX(nd) AS DOUBLE), 4)
        |      ELSE ROUND(63 * power(2.0, 60) / MAX(CASE WHEN rn = 64 THEN h END), 4)
        |    END AS kmv_est
        |  FROM r GROUP BY event_type),
        |tx AS (SELECT event_type AS set_name, COUNT(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY event_type),
        |hu AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM events WHERE event_type IN ('click', 'view')),
        |ru AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn, COUNT(*) OVER () AS nd FROM hu),
        |ue AS (SELECT CASE WHEN MAX(nd) < 64 THEN ROUND(CAST(MAX(nd) AS DOUBLE), 4)
        |    ELSE ROUND(63 * power(2.0, 60) / MAX(CASE WHEN rn = 64 THEN h END), 4)
        |  END AS kmv_est FROM ru),
        |ux AS (SELECT COUNT(DISTINCT user_id) AS exact_users FROM events
        |  WHERE event_type IN ('click', 'view')),
        |ix AS (SELECT COUNT(*) AS exact_users FROM
        |  (SELECT user_id FROM events WHERE event_type = 'click'
        |   INTERSECT SELECT user_id FROM events WHERE event_type = 'view')),
        |ce AS (SELECT kmv_est FROM te WHERE set_name = 'click'),
        |ve AS (SELECT kmv_est FROM te WHERE set_name = 'view')
        |SELECT set_name, CAST(exact_users AS BIGINT) AS exact_users, kmv_est
        |FROM (
        |  SELECT tx.set_name, tx.exact_users, te.kmv_est FROM tx JOIN te USING (set_name)
        |  UNION ALL
        |  SELECT 'union:click+view', ux.exact_users, ue.kmv_est FROM ux CROSS JOIN ue
        |  UNION ALL
        |  SELECT 'intersect:click+view', ix.exact_users,
        |    ROUND(ce.kmv_est + ve.kmv_est - ue.kmv_est, 4) FROM ix, ce, ve, ue)
        |ORDER BY set_name""".stripMargin)),

    // ---- Q34: native unpivot (melt) ----
    QDef("q34_unpivot_native",
      (s, d) => orders(s, d)
        .unpivot(Array(col("o_orderkey")),
          Array(col("o_orderpriority"), col("o_orderstatus")), "k", "v")
        .orderBy("o_orderkey", "k")
        .limit(5000),
      Some("""SELECT o_orderkey, 'o_orderpriority' AS k, o_orderpriority AS v FROM orders
        |UNION ALL SELECT o_orderkey, 'o_orderstatus' AS k, o_orderstatus AS v FROM orders
        |ORDER BY o_orderkey, k LIMIT 5000""".stripMargin)),

    // ---- Q35: range join against a broadcast band table ----
    QDef("q35_range_join",
      (s, d) => {
        val bands = s.range(0, 10).select(col("id").as("band"),
          (col("id") * 50000).cast("double").as("lo"),
          ((col("id") + 1) * 50000).cast("double").as("hi"))
        orders(s, d)
          .join(broadcast(bands),
            col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
          .groupBy("band")
          .agg(count(lit(1)).as("n"))
          .orderBy("band")
      },
      Some("""WITH bands AS (SELECT i AS band, i*50000 AS lo, (i+1)*50000 AS hi
        |  FROM range(10) t(i))
        |SELECT band, COUNT(*) AS n FROM orders
        |JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin)),

    // ---- dedup: embedding-cosine near-dup via sign-bucket LSH ----
    //
    // SCALE ENVELOPE — read before reaching for this query at scale.
    // The DECLARED semantics fix the LSH at 8 sign bits = 256 buckets,
    // so in-bucket pair volume grows ~n²/256: quadratic per decade BY
    // CONSTRUCTION, no constant-factor fix changes the curve (measured:
    // 470 s at 5 M vectors, sf100 r15b; ~13 h extrapolated at 50 M).
    // This query is the small/medium-corpus tool (≲ ~10⁷ vectors). At
    // corpus scale use `dedup_embedding_cosine_w` (the same query with a
    // corpus-scaled bucket width, declared below), `sim_bucketed_ann`,
    // `sim_ivf` (trained coarse quantizer), or `semantic_dedup`
    // (cluster-then-dedup) — same near-duplicate intent, sub-quadratic
    // candidate generation.
    QDef("dedup_embedding_cosine",
      (s, d) => {
        // norm is attached ONCE per vector, not recomputed per pair row:
        // cosine(ea, eb) inlines 3 VecDot evaluations per pair, and the
        // in-bucket pair count grows ~n²/256 — at sf100 (evidence/bench/BENCH_sf100_r15)
        // the 3× per-pair cost read 511 s wall, 104× per decade. Same
        // value bit-for-bit (norm is a pure function of the vector; the
        // division is the same expression), 1/3 the pair-stage flops.
        val e = embeddings(s, d).select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
          .withColumn("bucket", Similarity.signBucket(col("emb"), 8))
          .withColumn("nrm", Similarity.norm(col("emb")))
        val a = e.select(col("bucket"), col("vec_id").as("vec_a"),
          col("emb").as("ea"), col("nrm").as("na"))
        val b = e.select(col("bucket"), col("vec_id").as("vec_b"),
          col("emb").as("eb"), col("nrm").as("nb"))
        a.join(b, Seq("bucket"))
          .filter(col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            round(Similarity.dot(col("ea"), col("eb")) /
              (col("na") * col("nb")), 4).as("sim"))
          .filter(col("sim") >= 0.2)
          .orderBy("vec_a", "vec_b")
      },
      Some {
        val bucketExpr = (0 until 8)
          .map(i => s"(CASE WHEN emb[${i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |b AS (SELECT vec_id, emb, $bucketExpr AS bucket FROM e)
           |SELECT vec_a, vec_b, sim FROM (
           |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
           |  ROUND(list_dot_product(a.emb, b2.emb) /
           |    (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b2.emb, b2.emb))), 4) AS sim
           |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
           |WHERE sim >= 0.2 ORDER BY vec_a, vec_b""".stripMargin
      }),

    // ---- dedup: embedding-cosine with CORPUS-SCALED bucket width ----
    // The scale-safe sibling of dedup_embedding_cosine (r16, closing the
    // r15 verdict's item 6 second option): the sign-bucket width grows
    // with the corpus so expected in-bucket pair volume stays ~linear
    // per decade instead of quadratic. b = 8 + |{j ∈ 1..16 : n >
    // 100·2^(7+j)}| — pure integer comparisons, so Spark (footer count)
    // and DuckDB (COUNT(*)) derive the IDENTICAL width with no float
    // log2 edge cases; b ∈ [8, 24] ≤ the 64-dim embeddings. At the test
    // SFs n ≤ 25.6 k keeps b = 8 (the oracle exercises the width
    // machinery at the fixed query's values); at sf100 (2 M vectors)
    // b = 15 ⇒ 32 768 buckets ⇒ ~n²/2^16 in-bucket pairs, ~128× fewer
    // than the declared 256-bucket query. More bits = narrower LSH
    // recall per pair (sign-LSH collides at P = (1−θ/π)^b), which is
    // the declared trade: this variant's semantics are "same-bucket
    // pairs at width f(n)", replayed exactly by the oracle.
    QDef("dedup_embedding_cosine_w",
      (s, d) => {
        val n = Tables.footerRowCount(s, d, "embeddings")
        val b = Similarity.corpusScaledSignBits(n)
        val e = embeddings(s, d).select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
          .withColumn("bucket", Similarity.signBucket(col("emb"), b))
          .withColumn("nrm", Similarity.norm(col("emb")))
        val a = e.select(col("bucket"), col("vec_id").as("vec_a"),
          col("emb").as("ea"), col("nrm").as("na"))
        val bb = e.select(col("bucket"), col("vec_id").as("vec_b"),
          col("emb").as("eb"), col("nrm").as("nb"))
        a.join(bb, Seq("bucket"))
          .filter(col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            round(Similarity.dot(col("ea"), col("eb")) /
              (col("na") * col("nb")), 4).as("sim"))
          .filter(col("sim") >= 0.2)
          .orderBy("vec_a", "vec_b")
      },
      Some {
        // ONE generator feeds this oracle text AND the Spark-side parity
        // spec (CosineWidthSpec) — idxBase 1: DuckDB lists are 1-based
        val bucketExpr = Similarity.signBucketCaseSql(24, idxBase = 1)
        s"""WITH bsel AS (SELECT 8 + COUNT(*) AS b FROM range(1, 17) t(j)
           |  WHERE (SELECT COUNT(*) FROM embeddings) >
           |    100 * (CAST(1 AS BIGINT) << CAST(7 + j AS INT))),
           |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |bk AS (SELECT vec_id, emb, $bucketExpr AS bucket FROM e, bsel)
           |SELECT vec_a, vec_b, sim FROM (
           |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
           |  ROUND(list_dot_product(a.emb, b2.emb) /
           |    (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b2.emb, b2.emb))), 4) AS sim
           |  FROM bk a JOIN bk b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
           |WHERE sim >= 0.2 ORDER BY vec_a, vec_b""".stripMargin
      }),

    // ================= north-star: similarity search =================
    QDef("sim_cosine_topk",
      (s, d) => {
        val e = embeddings(s, d)
        Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, k = 10)
          .select(col("q_id"), col("c_id"), col("sim"), col("rank").cast("long").as("rank"))
          .orderBy("q_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 5)
        |SELECT q_id, c_id, sim, rank FROM (
        |  SELECT q_id, c.vec_id AS c_id,
        |  ROUND(list_dot_product(q_emb, c.emb) /
        |    (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c.emb, c.emb))), 4) AS sim,
        |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
        |    ROUND(list_dot_product(q_emb, c.emb) /
        |    (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c.emb, c.emb))), 4) DESC,
        |    c.vec_id) AS rank
        |  FROM e c CROSS JOIN q WHERE c.vec_id <> q_id)
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // The IVF index is fully deterministic (seed centroids = first 16 by
    // vec_id, one Lloyd step, nprobe=4 by centroid distance), so the whole
    // pipeline — assignment argmin, per-dimension means, probe selection,
    // probed top-k — replays as SQL CTEs. Distances use the identical
    // left-fold arithmetic both sides (list_reduce ≡ functions.aggregate).
    QDef("sim_ivf_ann",
      (s, d) => {
        val e = embeddings(s, d)
        Similarity.ivfTopK(e.filter(col("vec_id") < 5), e, k = 10,
            nCells = 16, nprobe = 4)
          .select(col("q_id"), col("c_id"), col("sim"), col("rank").cast("long").as("rank"))
          .orderBy("q_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |seeds AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, emb
        |  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
        |d0 AS (SELECT e.vec_id, e.emb, s.cid,
        |    list_reduce([(e.emb[i]-s.emb[i])*(e.emb[i]-s.emb[i])
        |      FOR i IN generate_series(1,64)], (x,y) -> x+y) AS dist
        |  FROM e CROSS JOIN seeds s),
        |a0 AS (SELECT vec_id, emb, cid FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |    FROM d0) WHERE rn = 1),
        |m AS (SELECT cid, i, ROUND(SUM(emb[i]) / COUNT(*), 6) AS mv
        |  FROM a0 CROSS JOIN generate_series(1,64) g(i) GROUP BY cid, i),
        |mm AS (SELECT cid, list(mv ORDER BY i) AS emb FROM m GROUP BY cid),
        |cent AS (SELECT s.cid, COALESCE(mm.emb, s.emb) AS emb
        |  FROM seeds s LEFT JOIN mm ON s.cid = mm.cid),
        |dc AS (SELECT e.vec_id, e.emb, c.cid,
        |    list_reduce([(e.emb[i]-c.emb[i])*(e.emb[i]-c.emb[i])
        |      FOR i IN generate_series(1,64)], (x,y) -> x+y) AS dist
        |  FROM e CROSS JOIN cent c),
        |ca AS (SELECT vec_id AS c_id, emb AS c_emb, cid AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |    FROM dc) WHERE rn = 1),
        |qd AS (SELECT e.vec_id AS q_id, e.emb AS q_emb, c.cid,
        |    list_reduce([(e.emb[i]-c.emb[i])*(e.emb[i]-c.emb[i])
        |      FOR i IN generate_series(1,64)], (x,y) -> x+y) AS dist
        |  FROM e CROSS JOIN cent c WHERE e.vec_id < 5),
        |qc AS (SELECT q_id, q_emb, cid AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, cid) AS rn
        |    FROM qd) WHERE rn <= 4),
        |scored AS (SELECT q_id, c_id,
        |    ROUND(list_dot_product(q_emb, c_emb) /
        |      (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))),
        |      4) AS sim
        |  FROM ca JOIN qc USING (cell) WHERE c_id <> q_id)
        |SELECT q_id, c_id, sim, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
        |  FROM scored)
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // ---- SemDeDup-class semantic dedup (arXiv:2303.09540): cluster the
    // embeddings (same deterministic Lloyd as sim_ivf_ann), then prune
    // near-duplicates WITHIN each cluster only — the k-means cell is the
    // blocking structure, never all-pairs. Drop policy: a vector with a
    // lower-id cell-mate at cosine >= 0.25 is a duplicate of the
    // smallest such id (keep-lowest-id, as dedup_exact). ----
    // SCALE ENVELOPE: the DECLARED semantics fix the blocking at 16
    // cells, so in-cell pair volume grows ~n²/32 — quadratic per decade
    // BY CONSTRUCTION (measured 163.6 s at sf10's 200 k vectors under
    // the honest noop action; ~125 B pairs at sf100, skipped there).
    // This query is the small-corpus tool; at corpus scale use
    // `semantic_dedup_w` below — the same pipeline with the cell count
    // derived from the corpus size, declared and oracle-replayed.
    QDef("semantic_dedup",
      (s, d) => Similarity.semanticDedup(embeddings(s, d), tau = 0.25,
          nCells = 16, iters = 1)
        .orderBy("vec_id"),
      Some(semanticDedupOracleSql(
        """seeds AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, emb
          |  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16))""".stripMargin))),

    // ---- Semantic dedup with CORPUS-SCALED cell count (r18, closing
    // the r17 verdict's #1 item — the last declared quadratic): the
    // k-means blocking doubles its cell count each time the corpus
    // doubles (Similarity.corpusScaledNCells: k = 16·2^|{j ∈ 1..10 :
    // n > 100·2^(7+j)}|, pure integer comparisons on the footer row
    // count / COUNT(*), so both engines derive the identical k), which
    // holds expected in-cell pair volume ~n²/2k LINEAR per decade.
    // SemDeDup (arXiv:2303.09540) itself scales cluster count with
    // corpus size. At the committed gate SFs (n ≤ 2 000) k stays 16 ≡
    // the fixed query; sf10 (200 k vectors, k = 128) is the first SF
    // where the branches diverge and is cross-engine hash-checked out
    // of band (evidence/r18). More cells = narrower blocking recall
    // per pair — the same declared trade as dedup_embedding_cosine_w's
    // width. ----
    QDef("semantic_dedup_w",
      (s, d) => {
        val n = Tables.footerRowCount(s, d, "embeddings")
        Similarity.semanticDedup(embeddings(s, d), tau = 0.25,
            nCells = Similarity.corpusScaledNCells(n), iters = 1)
          .orderBy("vec_id")
      },
      Some(semanticDedupOracleSql(
        """ksel AS (SELECT 16 * (CAST(1 AS BIGINT) << CAST(COUNT(*) AS INT)) AS k
          |  FROM range(1, 11) t(j)
          |  WHERE (SELECT COUNT(*) FROM embeddings) >
          |    100 * (CAST(1 AS BIGINT) << CAST(7 + j AS INT))),
          |seeds AS (SELECT CAST(rn - 1 AS INT) AS cid, emb FROM
          |    (SELECT emb, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e), ksel
          |  WHERE rn <= k)""".stripMargin))),

    // ---- PQ/ADC ANN: 4 subspaces × 16 codes, deterministic seeding,
    // one Lloyd step; oracle replays codebook training, encoding, and
    // the ADC scan (subspace-ordered distance fold = Spark's) ----
    QDef("sim_pq_adc",
      (s, d) => {
        val e = embeddings(s, d)
        Similarity.pqTopK(e.filter(col("vec_id") < 5), e, k = 10,
            m = 4, codes = 16, iters = 1)
          .select(col("q_id"), col("c_id"), col("adc"), col("rank").cast("long").as("rank"))
          .orderBy("q_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |sp AS (SELECT 0 AS sub, 1 AS a, 16 AS b UNION ALL SELECT 1, 17, 32
        |  UNION ALL SELECT 2, 33, 48 UNION ALL SELECT 3, 49, 64),
        |subv AS (SELECT e.vec_id, sp.sub, e.emb[sp.a:sp.b] AS se FROM e CROSS JOIN sp),
        |seedids AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
        |  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
        |seeds AS (SELECT s.sub, si.code, s.se FROM subv s JOIN seedids si USING (vec_id)),
        |d0 AS (SELECT v.vec_id, v.sub, s.code,
        |    list_reduce([(v.se[i]-s.se[i])*(v.se[i]-s.se[i])
        |      FOR i IN generate_series(1,16)], (x,y) -> x+y) AS dist
        |  FROM subv v JOIN seeds s ON v.sub = s.sub),
        |a0 AS (SELECT vec_id, sub, code FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        |    FROM d0) WHERE rn = 1),
        |mn AS (SELECT a0.sub, a0.code, g.i,
        |    ROUND(SUM(v.se[g.i]) / COUNT(*), 6) AS mv
        |  FROM a0 JOIN subv v ON a0.vec_id = v.vec_id AND a0.sub = v.sub
        |  CROSS JOIN generate_series(1,16) g(i) GROUP BY a0.sub, a0.code, g.i),
        |mm AS (SELECT sub, code, list(mv ORDER BY i) AS se FROM mn GROUP BY sub, code),
        |cbk AS (SELECT s.sub, s.code, COALESCE(mm.se, s.se) AS se
        |  FROM seeds s LEFT JOIN mm ON s.sub = mm.sub AND s.code = mm.code),
        |enc AS (SELECT vec_id AS c_id, sub, code FROM (
        |    SELECT v.vec_id, v.sub, c.code,
        |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
        |        list_reduce([(v.se[i]-c.se[i])*(v.se[i]-c.se[i])
        |          FOR i IN generate_series(1,16)], (x,y) -> x+y), c.code) AS rn
        |    FROM subv v JOIN cbk c ON v.sub = c.sub) WHERE rn = 1),
        |lut AS (SELECT v.vec_id AS q_id, v.sub, c.code,
        |    list_reduce([(v.se[i]-c.se[i])*(v.se[i]-c.se[i])
        |      FOR i IN generate_series(1,16)], (x,y) -> x+y) AS d
        |  FROM subv v JOIN cbk c ON v.sub = c.sub WHERE v.vec_id < 5),
        |scored AS (SELECT l.q_id, en.c_id,
        |    ROUND(list_reduce(list(l.d ORDER BY l.sub), (x,y) -> x+y), 4) AS adc
        |  FROM enc en JOIN lut l ON en.sub = l.sub AND en.code = l.code
        |  GROUP BY l.q_id, en.c_id HAVING l.q_id <> en.c_id)
        |SELECT q_id, c_id, adc, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rank
        |  FROM scored)
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    QDef("sim_bucketed_ann",
      (s, d) => {
        val e = embeddings(s, d)
        Similarity.bucketedTopK(e.filter(col("vec_id") < 5), e, k = 10)
          .select(col("q_id"), col("c_id"), col("sim"), col("rank").cast("long").as("rank"))
          .orderBy("q_id", "rank")
      },
      Some {
        val bucketExpr = (0 until 8)
          .map(i => s"(CASE WHEN emb[${i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |b AS (SELECT vec_id, emb, $bucketExpr AS bucket FROM e),
           |q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket FROM b WHERE vec_id < 5)
           |SELECT q_id, c_id, sim, rank FROM (
           |  SELECT q_id, c.vec_id AS c_id,
           |  ROUND(list_dot_product(q_emb, c.emb) /
           |    (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c.emb, c.emb))), 4) AS sim,
           |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
           |    ROUND(list_dot_product(q_emb, c.emb) /
           |    (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c.emb, c.emb))), 4) DESC,
           |    c.vec_id) AS rank
           |  FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q_id)
           |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
      }),

    // ---- The RAG ingestion pipeline end-to-end: chunk documents →
    // embed each chunk → cosine top-5 chunks per query. The embedder is
    // Similarity.hashEmbed — the deterministic in-sandbox stand-in for a
    // model encoder (swap for a real encoder UDF; everything else is
    // unchanged) — which keeps the WHOLE pipeline value-checkable: the
    // oracle replays chunking, embedding, and ranking identically.
    // Scale shape: chunking+embedding are map-only over one corpus scan;
    // the 2-row query side broadcasts; ranking is one window per query
    // partition. ----
    QDef("rag_chunk_ann",
      (s, d) => {
        val emb = TextAnalysis.chunk(documents(s, d), window = 32, stride = 24)
          .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
          .withColumn("emb", Similarity.hashEmbed(col("chunk_text"), dim = 8))
        val qs = emb.filter(col("doc_id").isin(3L, 7L) && col("chunk_id") === 0L)
          .select(col("doc_id").as("query_doc"), col("emb").as("q_emb"))
        // top-5 per query via GroupedTopK's bounded per-partition heaps —
        // a row_number window here partitions by query_doc, i.e. ALL
        // scored chunks funnel into |queries| sort tasks (measured 36×
        // wall at 10× data in the sf10 sweep); the heaps keep ≤ k rows
        // per query per partition before the exchange. The residual
        // window ranks ≤ k·|queries| rows — constant-sized.
        val scored = emb.crossJoin(broadcast(qs))
          .filter(!(col("doc_id") === col("query_doc") && col("chunk_id") === 0L))
          .select(col("query_doc"), col("doc_id"), col("chunk_id"),
            round(Similarity.cosine(col("emb"), col("q_emb")), 4).as("cos"))
        val w = Window.partitionBy("query_doc")
          .orderBy(col("cos").desc, col("doc_id"), col("chunk_id"))
        plans.GroupedTopK.perKey(scored, "query_doc",
            Seq("cos" -> false, "doc_id" -> true, "chunk_id" -> true), k = 5)
          .withColumn("rank", row_number().over(w).cast("long"))
          .select("query_doc", "rank", "doc_id", "chunk_id", "cos")
          .orderBy("query_doc", "rank")
      },
      Some("""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d),
        |c AS (SELECT doc_id, n, toks, UNNEST(generate_series(0,
        |    CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 23) // 24 END)) AS chunk_id
        |  FROM n),
        |ch AS (SELECT doc_id, chunk_id,
        |    array_to_string(toks[(chunk_id*24+1):LEAST(chunk_id*24+32, n)], ' ')
        |      AS chunk_text FROM c),
        |em AS (SELECT doc_id, chunk_id,
        |    [CAST(CAST('0x' || substr(md5(chunk_text || '#' || CAST(j AS VARCHAR)), 1, 15)
        |       AS BIGINT) % 2001 AS DOUBLE) / 1000.0 - 1.0
        |     FOR j IN generate_series(0, 7)] AS emb FROM ch),
        |q AS (SELECT doc_id AS query_doc, emb AS q_emb FROM em
        |  WHERE doc_id IN (3, 7) AND chunk_id = 0),
        |s AS (SELECT q.query_doc, em.doc_id, em.chunk_id,
        |    ROUND(list_dot_product(em.emb, q.q_emb) /
        |      (sqrt(list_dot_product(em.emb, em.emb)) *
        |       sqrt(list_dot_product(q.q_emb, q.q_emb))), 4) AS cos
        |  FROM em CROSS JOIN q
        |  WHERE NOT (em.doc_id = q.query_doc AND em.chunk_id = 0)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_doc
        |    ORDER BY cos DESC, doc_id, chunk_id) AS rank FROM s)
        |SELECT query_doc, CAST(rank AS BIGINT) AS rank, doc_id, chunk_id, cos
        |FROM r WHERE rank <= 5 ORDER BY query_doc, rank""".stripMargin)),

    // ================= north-star: text analysis =================
    QDef("text_tokens",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("len_chars"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |CAST(length(text) AS BIGINT) AS len_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QDef("text_quality",
      (s, d) => TextAnalysis.qualityFeatures(documents(s, d))
        .select("doc_id", "n_tokens", "stop_ratio", "punct_ratio")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |ROUND(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |  x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) /
        |  GREATEST(len(string_split_regex(trim(text), '\s+')), 1), 4) AS stop_ratio,
        |ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) /
        |  GREATEST(length(text), 1), 4) AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QDef("text_tfidf",
      (s, d) => TextAnalysis.tfidf(documents(s, d))
        .select("doc_id", "term", "tf", "df", "tfidf")
        .orderBy("doc_id", "term"),
      Some("""WITH t AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE term <> ''
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  ROUND(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 4) AS tfidf
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |ORDER BY doc_id, term""".stripMargin)),

    // ---- Benchmark decontamination: train docs sharing any word 5-gram
    // with the eval split (doc_id < 100 stands in for a held-out
    // benchmark — a FIXED id range, because a benchmark suite does not
    // grow with the corpus; a %-of-corpus eval side would make the gate
    // quadratic at scale). Eval grams broadcast; corpus scanned once. ----
    QDef("decon_ngram_overlap",
      (s, d) => {
        val docs = documents(s, d)
        TextAnalysis.decontaminate(
            docs.filter(col("doc_id") >= 100),
            docs.filter(col("doc_id") < 100), n = 5)
          .orderBy("doc_id")
      },
      Some("""WITH g AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 5 THEN list_distinct(
        |      [array_to_string(t[i:i+4], ' ') FOR i IN generate_series(1, len(t)-4)])
        |    ELSE []::VARCHAR[] END AS grams
        |  FROM (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS t FROM documents)),
        |e AS (SELECT DISTINCT unnest(grams) AS g FROM g WHERE doc_id < 100),
        |tr AS (SELECT doc_id, grams FROM g WHERE doc_id >= 100),
        |u AS (SELECT doc_id, unnest(grams) AS g FROM tr),
        |sh AS (SELECT u.doc_id, COUNT(*) AS n_shared FROM u JOIN e USING (g)
        |  GROUP BY u.doc_id)
        |SELECT tr.doc_id, CAST(len(tr.grams) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
        |  COALESCE(sh.n_shared, 0) > 0 AS contaminated
        |FROM tr LEFT JOIN sh USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ---- Stable contiguous ids (Ids.stableIds): the two-phase
    // zipWithIndex form — range-sort, per-partition counts, driver
    // cumsum, map-only add — NEVER row_number over a global window
    // (which serializes the corpus through one partition). ----
    QDef("ids_stable_assign",
      (s, d) => graft.ops.Ids.stableIds(
          documents(s, d).select("doc_id", "source"),
          sortCols = Seq("source", "doc_id"))
        .select(col("doc_id"), col("source"), col("stable_id"))
        .orderBy("stable_id"),
      Some("""SELECT doc_id, source,
        |  ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1 AS stable_id
        |FROM documents ORDER BY stable_id""".stripMargin)),

    // ---- CMS heavy hitters (Sketches.cmsHeavyHitters): exact top-20
    // terms grade the sketch's ε·N bound — the bounded-memory frequency
    // path for unbounded vocabularies. ----
    QDef("corpus_term_cms",
      (s, d) => {
        val terms = documents(s, d)
          .select(TextAnalysis.toks(lower(col("text"))).as("t"))
          .select(explode(col("t")).as("term"))
        graft.ops.Sketches.cmsHeavyHitters(terms, "term", k = 20)
          .orderBy(col("freq").desc, col("value").asc)
      },
      Some("""SELECT term AS value, COUNT(*) AS freq, true AS est_in_bounds
        |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |      FROM documents)
        |GROUP BY term ORDER BY freq DESC, value ASC LIMIT 20""".stripMargin)),

    // ---- Q54: skew-AWARE fact⋈dim join (ops/Skew) — salting is plan
    // surgery for a pathological hot key (deterministic fact-side salt,
    // xxhash of the row identity, never rand(); dim exploded
    // saltBuckets×; join on (key, salt)), and the r12 A/B settled its
    // economics on THIS data (sf10, min-of-3 interleaved,
    // tmp/skewprobe_sf10.log): lineitem's supplier keys are UNIFORM, so
    // unconditional salting was a 6–13× anti-optimization (salted
    // 6.3–7.6 s vs the planner's broadcast join 0.5–1.1 s, 3× vs forced
    // SMJ). The declared query therefore runs saltedJoinAdaptive: one
    // seeded-sample gate on the hottest key's share (10% default —
    // where one shuffle task would run ≥3× the average at 32
    // partitions) decides salt-vs-plain, so a user gets the salt
    // exactly when it pays. Same rows either way — the oracle IS the
    // plain join — pinning that the gate chooses a plan, never a
    // result. ----
    QDef("q54_skew_salted_join",
      (s, d) => {
        val facts = lineitem(s, d)
          .select(col("l_suppkey"), col("l_extendedprice"),
            col("l_orderkey"), col("l_linenumber"))
        val dims = supplier(s, d)
          .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
        graft.ops.Skew.saltedJoinAdaptive(facts, dims, "l_suppkey",
            factId = concat(col("l_orderkey"), lit("#"), col("l_linenumber")),
            saltBuckets = 8,
            factCountHint = Tables.footerRowCount(s, d, "lineitem"))
          .groupBy("s_nationkey")
          .agg(decSum2(col("l_extendedprice")).as("revenue"),
            count(lit(1)).as("n"))
          .orderBy("s_nationkey")
      },
      Some("""SELECT s_nationkey,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // ---- Q53: PIVOT — revenue by order year × market segment, one
    // scan + one agg (Spark pivot with EXPLICIT values so no extra
    // distinct-discovery job runs; decimal-exact sums → rounded double,
    // the decSum2 canonicalization). ----
    QDef("q53_pivot",
      (s, d) => {
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")
        orders(s, d)
          .join(customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(year(col("o_orderdate")).cast("long").as("yr"),
            col("c_mktsegment"), col("o_totalprice"))
          .groupBy("yr").pivot("c_mktsegment", segs)
          .agg(round(sum(dec(col("o_totalprice"))), 2).cast("double"))
          .orderBy("yr")
      },
      Some {
        val segCols = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY").map(seg =>
          s"""CAST(ROUND(SUM(CASE WHEN c_mktsegment = '$seg' THEN
             |    CAST(o_totalprice AS DECIMAL(18,4)) END), 2) AS DOUBLE)
             |    AS "$seg"""".stripMargin).mkString(",\n")
        s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           |$segCols
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |GROUP BY yr ORDER BY yr""".stripMargin
      }),

    // ---- Deterministic k-per-group sample (Sampling.perGroupSample):
    // reservoir shape, md5 in place of randomness, exact k per group,
    // GroupedTopK pre-shuffle pruning. ----
    QDef("sample_per_group",
      (s, d) => Sampling.perGroupSample(
          documents(s, d).select("doc_id", "lang"), "lang", "doc_id", k = 5)
        .select("lang", "doc_id", "h")
        .orderBy("lang", "h"),
      Some("""SELECT lang, doc_id, h FROM (
        |  SELECT lang, doc_id, md5('pg:' || CAST(doc_id AS VARCHAR)) AS h,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5('pg:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY lang, h""".stripMargin)),

    // ---- PageRank (ops/Graph): power iteration at fixed depth over the
    // undirected customer–supplier graph, ranks rounded 6 each iteration
    // so the shuffle-order float noise (~1e-15) never crosses engines or
    // partitionings. The oracle unrolls the same 5 iterations as chained
    // CTEs built by pageRankOracleSql — identical arithmetic per step.
    // Edge-build shape (r13, SCALE.md "Round 13 — pagerank edge build",
    // three min-of-N sessions at sf10): SHUFFLE_HASH on the fact-fact
    // orderkey join (the q19 lesson — the SMJ sorts were ~20% of the query)
    // and distinct on the LONG key pair BEFORE the string node ids are
    // built, so the dedup exchange ships 16-byte rows instead of ~20-byte
    // strings and hashes/compares longs: declared-shape min
    // 49.4–57.9 s across sessions → this shape 34.8–36.2 s. Dropping
    // the query-side distinct entirely measured another ~3 s better at
    // sf10 (pageRank's und build window-dedupes anyway) but would
    // DOUBLE the und repartition volume at sf100 (~19 GB through the
    // exchange where the query already rides the disk limit) — the
    // early reduction is the 100 TB-safe side of that trade, so the
    // distinct stays. ----
    // r17: the iteration engine runs on LONG node ids, not the "c123"/
    // "s45" display strings — the graph is bipartite so customers encode
    // even (custkey << 1) and suppliers odd ((suppkey << 1) | 1), and
    // the strings are reconstructed only for the O(nodes) output rows.
    // Everything pageRank sorts, exchanges, checkpoint-unrolls, and
    // hash-builds shrinks ~3× per row (two 8-byte longs vs two ~20-byte
    // UnsafeRow strings) and compares/hashes integer-fast — at sf100 the
    // edge frame is ~2.3 B rows, so the row-width cut is the build wall.
    // Rank values are unchanged: the graph is isomorphic and the
    // per-iteration round(·, 6) contract makes the fixpoint independent
    // of key representation (GraphSpec pins partitioning-independence;
    // the oracle hash-checks the decoded output).
    QDef("graph_pagerank",
      (s, d) => {
        val e = lineitem(s, d)
          .select("l_orderkey", "l_suppkey")
          .join(orders(s, d).select("o_orderkey", "o_custkey")
              .hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .select("o_custkey", "l_suppkey").distinct()
          .select(shiftleft(col("o_custkey"), 1).cast("long").as("src"),
            (shiftleft(col("l_suppkey"), 1) + 1).cast("long").as("dst"))
        graft.ops.Graph.pageRank(e, "src", "dst", iters = 5)
          .select(
            when(col("node") % 2 === 0,
              concat(lit("c"), shiftright(col("node"), 1).cast("string")))
              .otherwise(
                concat(lit("s"), shiftright(col("node"), 1).cast("string")))
              .as("node"),
            col("deg"), col("rank"))
          .orderBy("node")
      },
      Some(pageRankOracleSql(5))),

    // ---- Perplexity-proxy scoring: add-1 bigram LM trained on the
    // corpus, mean ln p per doc folded in position order (both engines
    // fold the same sequence; a plain AVG would be partition-order
    // dependent in the last bits). ----
    QDef("text_bigram_lm",
      (s, d) => TextAnalysis.bigramLmScore(documents(s, d))
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |big AS (SELECT doc_id,
        |    unnest([i FOR i IN generate_series(1, len(t)-1)]) AS pos,
        |    unnest([t[i] FOR i IN generate_series(1, len(t)-1)]) AS w1,
        |    unnest([t[i+1] FOR i IN generate_series(1, len(t)-1)]) AS w2
        |  FROM toks WHERE len(t) >= 2),
        |bg AS (SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY w1, w2),
        |cx AS (SELECT w1, SUM(cb) AS cw FROM bg GROUP BY w1),
        |vv AS (SELECT COUNT(DISTINCT w) AS v FROM
        |  (SELECT unnest(t) AS w FROM toks)),
        |sc AS (SELECT b.doc_id, b.pos,
        |    ln((bg.cb + 1.0) / (cx.cw + 1.0 * vv.v)) AS lnp
        |  FROM big b JOIN bg USING (w1, w2) JOIN cx USING (w1) CROSS JOIN vv)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(list_reduce(list(lnp ORDER BY pos), (acc, x) -> acc + x)
        |    / COUNT(*), 4) AS avg_lnp
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- Semantic decontamination (Similarity.semanticDecon): the
    // embedding-space leakage gate — eval split broadcast, train scanned
    // once, exact max-cosine per train vector (a contamination gate must
    // not have false negatives). The eval side is a FIXED id range, the
    // real workload's shape (a benchmark suite doesn't grow with the
    // corpus): work stays |corpus|·|eval| = linear. The original
    // `vec_id % 20` eval was 5% OF THE CORPUS — quadratic by
    // construction, measured 74× wall at 10× data in the sf10 sweep. ----
    QDef("decon_semantic",
      (s, d) => {
        val e = embeddings(s, d)
        Similarity.semanticDecon(
            e.filter(col("vec_id") >= 100),
            e.filter(col("vec_id") < 100), tau = 0.5)
          .orderBy("vec_id")
      },
      Some("""WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |t AS (SELECT * FROM a WHERE vec_id >= 100),
        |e AS (SELECT vec_id AS e_id, emb AS e_emb FROM a WHERE vec_id < 100),
        |s AS (SELECT t.vec_id, e.e_id,
        |    ROUND(list_dot_product(t.emb, e.e_emb) /
        |      (sqrt(list_dot_product(t.emb, t.emb))
        |        * sqrt(list_dot_product(e.e_emb, e.e_emb))), 4) AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY t.vec_id
        |      ORDER BY ROUND(list_dot_product(t.emb, e.e_emb) /
        |        (sqrt(list_dot_product(t.emb, t.emb))
        |          * sqrt(list_dot_product(e.e_emb, e.e_emb))), 4) DESC,
        |      e.e_id ASC) AS rn
        |  FROM t CROSS JOIN e)
        |SELECT vec_id, e_id AS near_eval_id, sim AS max_sim,
        |  sim >= 0.5 AS contaminated
        |FROM s WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // ---- Gopher-class repetition signals: unique-word fraction + top
    // 2-gram share per doc. ----
    QDef("text_repetition",
      (s, d) => TextAnalysis.repetitionSignals(documents(s, d))
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |w AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  CASE WHEN len(t) > 0
        |    THEN ROUND(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4)
        |    ELSE 0.0 END AS uniq_word_frac FROM toks),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN
        |    [array_to_string(t[i:i+1], ' ') FOR i IN generate_series(1, len(t)-1)]
        |  ELSE []::VARCHAR[] END) AS g FROM toks),
        |gc AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g),
        |ga AS (SELECT doc_id, SUM(c) AS n_2grams, MAX(c) AS top2_count
        |  FROM gc GROUP BY doc_id)
        |SELECT w.doc_id, w.n_tokens, w.uniq_word_frac,
        |  CAST(COALESCE(ga.n_2grams, 0) AS BIGINT) AS n_2grams,
        |  CAST(COALESCE(ga.top2_count, 0) AS BIGINT) AS top2_count,
        |  CASE WHEN COALESCE(ga.n_2grams, 0) > 0
        |    THEN ROUND(CAST(ga.top2_count AS DOUBLE) / ga.n_2grams, 4)
        |    ELSE 0.0 END AS top2_frac
        |FROM w LEFT JOIN ga USING (doc_id) ORDER BY w.doc_id""".stripMargin)),

    // ---- Data-mixing weights: cap each source's token contribution at a
    // fixed budget; weight rounded first so the plan is reproducible from
    // the published weights. ----
    QDef("mix_domain_weights",
      (s, d) => Sampling.domainMixWeights(documents(s, d), budgetPerSource = 1500L)
        .orderBy("source"),
      Some("""WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |  SUM(len(string_split_regex(trim(text), '\s+'))) AS n_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  ROUND(LEAST(CAST(1 AS DOUBLE), CAST(1500 AS DOUBLE) / n_tokens), 4) AS weight,
        |  CAST(FLOOR(n_tokens * ROUND(LEAST(CAST(1 AS DOUBLE),
        |    CAST(1500 AS DOUBLE) / n_tokens), 4)) AS BIGINT) AS sampled_tokens
        |FROM s ORDER BY source""".stripMargin)),

    // ---- Distributed logistic-regression training (LinearModels
    // .logisticGd): distill the quality gate into a linear model by
    // full-batch GD — each iteration ONE partial-aggregated scan, d+1
    // scalars to the driver, weights re-broadcast as literals. The
    // gradient/weight rounding (9/6 dp) makes the training bit-stable
    // across engines, so the oracle replays all 3 iterations as chained
    // CTEs and the WEIGHTS hash-match, not just a sanity bound. ----
    QDef("quality_lr_train",
      (s, d) => {
        val f = TextAnalysis.qualityFeatures(documents(s, d))
          .withColumn("log_tokens",
            round(log(lit(1.0) + col("n_tokens")), 6))
          .withColumn("y",
            (TextAnalysis.qualityScoreExpr(col("text")) >= 0.3).cast("double"))
        graft.ops.LinearModels.logisticGd(f,
          Seq("log_tokens" -> col("log_tokens"),
            "stop_ratio" -> col("stop_ratio"),
            "punct_ratio" -> col("punct_ratio"),
            "avg_token_len" -> col("avg_token_len")),
          label = col("y"), lr = 1.0, iters = 3)
          .orderBy("feature")
      },
      Some {
        val xs = Seq("log_tokens", "stop_ratio", "punct_ratio", "avg_token_len")
        val margin = "w0 + " + xs.zipWithIndex
          .map { case (x, j) => s"w${j + 1} * $x" }.mkString(" + ")
        val err = s"(1.0 / (1.0 + exp(-($margin))) - y)"
        def gradCte(k: Int) = s"g$k AS (SELECT " +
          (("1.0" +: xs).zipWithIndex.map { case (x, j) =>
            s"ROUND(AVG($err * $x), 9) AS g$j" }.mkString(", ")) +
          s" FROM f, i${k - 1})"
        def stepCte(k: Int) = s"i$k AS (SELECT " +
          (0 to xs.length).map(j => s"ROUND(w$j - 1.0 * g$j, 6) AS w$j")
            .mkString(", ") + s" FROM i${k - 1}, g$k)"
        val iters = (1 to 3).map(k => gradCte(k) + ",\n" + stepCte(k))
          .mkString(",\n")
        val out = ("bias" +: xs).zipWithIndex
          .map { case (n, j) => s"SELECT '$n' AS feature, w$j AS weight FROM i3" }
          .mkString(" UNION ALL ")
        s"""WITH f AS (SELECT
        |  ROUND(LN(1.0 + len(string_split_regex(trim(text), '\\s+'))), 6) AS log_tokens,
        |  ROUND(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        |    x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) /
        |    GREATEST(len(string_split_regex(trim(text), '\\s+')), 1), 4) AS stop_ratio,
        |  ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) /
        |    GREATEST(length(text), 1), 4) AS punct_ratio,
        |  ROUND(CAST(length(text) - (len(string_split_regex(trim(text), '\\s+')) - 1) AS DOUBLE) /
        |    GREATEST(len(string_split_regex(trim(text), '\\s+')), 1), 4) AS avg_token_len,
        |  CAST(ROUND(1.0 / (1.0 + exp(-(-1.0
        |    + 0.55 * ln(1.0 + len(string_split_regex(trim(text), '\\s+')))
        |    + 2.0 * ROUND(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        |        x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) /
        |        GREATEST(len(string_split_regex(trim(text), '\\s+')), 1), 4)
        |    - 3.0 * ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) /
        |        GREATEST(length(text), 1), 4)
        |    - 0.05 * ROUND(CAST(length(text) - (len(string_split_regex(trim(text), '\\s+')) - 1) AS DOUBLE) /
        |        GREATEST(len(string_split_regex(trim(text), '\\s+')), 1), 4)))), 4) >= 0.3
        |    AS DOUBLE) AS y
        |  FROM documents),
        |i0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
        |  CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3,
        |  CAST(0 AS DOUBLE) AS w4),
        |$iters
        |$out ORDER BY feature""".stripMargin
      }),

    // ---- URL canonicalization + dedup-by-canonical-URL (Urls): four
    // injected spellings per page (uppercase host, default :443 port,
    // trailing slash, fragment, utm_* params, param order) collapse to
    // one canonical form; 25 pages × 4 forms over the corpus. ----
    QDef("url_canonicalize",
      (s, d) => {
        val page = (col("doc_id") % 25).cast("string")
        val raw = when(col("doc_id") % 4 === 0,
            concat(lit("https://www.crawl-site.com/page/"), page,
              lit("?id=1&utm_source=feed")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("HTTPS://WWW.Crawl-Site.COM:443/page/"), page,
              lit("/?id=1")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://www.crawl-site.com/page/"), page,
              lit("?id=1#sec")))
          .otherwise(
            concat(lit("https://www.crawl-site.com:443/page/"), page,
              lit("?utm_campaign=x&id=1")))
        graft.ops.Urls.dedupByUrl(
            documents(s, d).select(col("doc_id"), raw.as("url")))
          .orderBy("canonical_url")
      },
      Some("""WITH u AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
        |    WHEN 0 THEN 'https://www.crawl-site.com/page/' || CAST(doc_id % 25 AS VARCHAR) || '?id=1&utm_source=feed'
        |    WHEN 1 THEN 'HTTPS://WWW.Crawl-Site.COM:443/page/' || CAST(doc_id % 25 AS VARCHAR) || '/?id=1'
        |    WHEN 2 THEN 'https://www.crawl-site.com/page/' || CAST(doc_id % 25 AS VARCHAR) || '?id=1#sec'
        |    ELSE 'https://www.crawl-site.com:443/page/' || CAST(doc_id % 25 AS VARCHAR) || '?utm_campaign=x&id=1'
        |  END AS url FROM documents),
        |parts AS (SELECT doc_id, url,
        |    regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        |c AS (SELECT doc_id, url,
        |    lower(regexp_extract(nofrag, '^([^:]+)://', 1)) AS scheme,
        |    lower(regexp_extract(nofrag, '^[^:]+://([^/?#]+)', 1)) AS host,
        |    regexp_replace(regexp_extract(nofrag, '^[^:]+://[^/?#]+([^?#]*)', 1), '/+$', '') AS path,
        |    regexp_extract(nofrag, '\?(.*)$', 1) AS q FROM parts),
        |canon AS (SELECT doc_id, url,
        |    scheme || '://' ||
        |    CASE WHEN scheme = 'https' THEN regexp_replace(host, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(host, ':80$', '')
        |         ELSE host END || path ||
        |    CASE WHEN len(list_filter(string_split(q, '&'),
        |        p -> p <> '' AND substr(p, 1, 4) <> 'utm_')) > 0
        |      THEN '?' || array_to_string(list_sort(list_filter(
        |        string_split(q, '&'),
        |        p -> p <> '' AND substr(p, 1, 4) <> 'utm_')), '&')
        |      ELSE '' END AS canonical_url
        |  FROM c)
        |SELECT canonical_url, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |  COUNT(*) AS n_dups, COUNT(DISTINCT url) AS n_raw_forms
        |FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin)),

    // ---- Temperature-scaled domain mixing (Sampling.temperatureMix):
    // q_d ∝ p_d^0.3 flattens source shares toward uniform, rates hit a
    // 300-doc target, capped at 1. p^α is rounded BEFORE the normalizing
    // sum so libm/addition-order noise can't leak into the rates. ----
    QDef("mix_temperature",
      (s, d) => Sampling.temperatureMix(documents(s, d), alpha = 0.3,
        targetDocs = 300L).orderBy("source"),
      Some("""WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents
        |    GROUP BY source),
        |t AS (SELECT SUM(n_docs) AS n FROM c),
        |w AS (SELECT source, n_docs, CAST(n_docs AS DOUBLE) / n AS p,
        |    ROUND(POWER(CAST(n_docs AS DOUBLE) / n, 0.3), 9) AS pa
        |  FROM c, t),
        |z AS (SELECT SUM(pa) AS z FROM w),
        |r AS (SELECT source, n_docs, ROUND(p, 6) AS p,
        |    ROUND(pa / z, 6) AS q,
        |    ROUND(LEAST(1.0, ROUND(pa / z, 6) * 300.0 / n_docs), 6) AS rate
        |  FROM w, z)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, p, q, rate,
        |  CAST(FLOOR(n_docs * rate) AS BIGINT) AS expected_docs
        |FROM r ORDER BY source""".stripMargin)),

    // ---- Weighted k-sample without replacement (Sampling.weightedSample):
    // Efraimidis–Spirakis keys ln(u)/w with a hash-uniform u — longer
    // docs proportionally likelier, the whole draw replayable by any
    // engine from (salt, key, weight). Top-k via per-partition heaps. ----
    QDef("sample_weighted",
      (s, d) => Sampling.weightedSample(documents(s, d),
          weightCol = "n_chars", key = "doc_id", k = 100)
        .select(col("doc_id"), col("n_chars"), col("w_key"))
        .orderBy(col("w_key").desc, col("doc_id")),
      Some("""SELECT doc_id, n_chars,
        |  ROUND(LN((CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 1000000 + 0.5) / 1000000.0) / n_chars, 12) AS w_key
        |FROM documents WHERE n_chars > 0
        |ORDER BY w_key DESC, doc_id LIMIT 100""".stripMargin)),

    // ---- Unicode NFC normalization + cleanup (strip control chars,
    // collapse whitespace). Spark has no nfc function; ours is a native
    // codegen'd expression (NfcNormalizeExpr) matching DuckDB's built-in
    // nfc_normalize. Non-NFC text injected on doc_id % 4 == 0: decomposed
    // accents (e+U+0301, n+U+0303), a BEL control char, double spaces. ----
    QDef("text_normalize",
      (s, d) => {
        val injected = when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(nonNfcSuffix)))
          .otherwise(col("text"))
        TextAnalysis.normalize(
            documents(s, d).withColumn("text", injected))
          .select(col("doc_id"), col("raw_len"), col("clean_len"),
            col("was_nfc"), substring(col("clean_text"), 1, 40).as("clean_head"))
          .orderBy("doc_id")
      },
      Some(s"""WITH inj AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN text || '$nonNfcSuffix'
        |      ELSE text END AS text FROM documents),
        |n AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS raw_len,
        |    trim(regexp_replace(nfc_normalize(
        |      regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')),
        |      '\\s+', ' ', 'g')) AS clean_text,
        |    nfc_normalize(text) = text AS was_nfc FROM inj)
        |SELECT doc_id, raw_len, CAST(length(clean_text) AS BIGINT) AS clean_len,
        |  was_nfc, substring(clean_text, 1, 40) AS clean_head
        |FROM n ORDER BY doc_id""".stripMargin)),

    // ---- C4-class boilerplate line filter: keep lines with >= 5 words
    // AND terminal punctuation. The corpus text is single-line prose
    // without punctuation, so lines are injected: the raw text (no
    // terminal punct -> dropped), a proper sentence (kept), a short
    // fragment (dropped), and a second sentence on doc_id % 3 == 0. ----
    QDef("text_boilerplate",
      (s, d) => {
        val injected = concat(col("text"),
          lit("\nProper sentence number "), col("doc_id"),
          lit(" has enough words."), lit("\nshort."),
          when(col("doc_id") % 3 === 0,
            lit("\nAnother proper sentence with plenty of words here."))
            .otherwise(lit("")))
        TextAnalysis.boilerplateFilter(
            documents(s, d).withColumn("text", injected), minWords = 5)
          .orderBy("doc_id")
      },
      Some("""WITH inj AS (SELECT doc_id, text || chr(10)
        |      || 'Proper sentence number ' || CAST(doc_id AS VARCHAR)
        |      || ' has enough words.' || chr(10) || 'short.'
        |      || CASE WHEN doc_id % 3 = 0 THEN chr(10)
        |        || 'Another proper sentence with plenty of words here.'
        |        ELSE '' END AS text FROM documents),
        |l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM inj),
        |k AS (SELECT doc_id, lines, list_filter(lines, x ->
        |    len(string_split_regex(trim(x), '\s+')) >= 5
        |    AND regexp_matches(trim(x), '[.!?]$')) AS kept FROM l)
        |SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  array_to_string(kept, chr(10)) AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin)),

    // ---- Corpus-level top-k frequent word 2-grams: the "what
    // boilerplate dominates this crawl" sweep. Explode is map-side, the
    // count partial-aggregates before its one shuffle (gram cardinality
    // crosses the wire, not corpus size), top-k is
    // TakeOrderedAndProject — never a global sort. ----
    QDef("corpus_ngram_topk",
      (s, d) => TextAnalysis.ngramTopK(documents(s, d), n = 2, k = 50),
      Some("""WITH toks AS (SELECT
        |    string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |g AS (SELECT unnest(CASE WHEN len(t) >= 2 THEN
        |    [array_to_string(t[i:i+1], ' ') FOR i IN generate_series(1, len(t)-1)]
        |  ELSE []::VARCHAR[] END) AS gram FROM toks)
        |SELECT gram, COUNT(*) AS freq FROM g GROUP BY gram
        |ORDER BY freq DESC, gram LIMIT 50""".stripMargin)),

    // ---- Training-export shard manifest: shard by portable md5 hash
    // (never a partition-dependent id), per-shard doc/token/char stats.
    // The same shard column drives the physical export
    // (repartition + partitionBy), so manifest and data agree by
    // construction. ----
    QDef("export_shards",
      (s, d) => Sampling.shardManifest(documents(s, d), nShards = 16)
        .orderBy("shard"),
      Some("""WITH d AS (SELECT *,
        |    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 16 AS shard FROM documents)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM d GROUP BY shard ORDER BY shard""".stripMargin)),

    // ---- Model-based quality gate: hand-distilled linear scorer over
    // the quality features through a sigmoid — the fastText-classifier
    // shape (broadcast weights, map-side dot product, zero shuffles).
    // Scores rounded to 4 BEFORE thresholding so published scores
    // exactly reproduce keep/drop. ----
    QDef("quality_score",
      (s, d) => TextAnalysis.qualityScore(documents(s, d), threshold = 0.5)
        .orderBy("doc_id"),
      Some("""WITH f AS (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) /
        |    GREATEST(len(string_split_regex(trim(text), '\s+')), 1), 4) AS stop_ratio,
        |  ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) /
        |    GREATEST(length(text), 1), 4) AS punct_ratio,
        |  ROUND(CAST(length(text) - (len(string_split_regex(trim(text), '\s+')) - 1) AS DOUBLE) /
        |    GREATEST(len(string_split_regex(trim(text), '\s+')), 1), 4) AS avg_token_len
        |  FROM documents),
        |z AS (SELECT *, -1.0 + 0.55 * ln(1.0 + n_tokens) + 2.0 * stop_ratio
        |    - 3.0 * punct_ratio - 0.05 * avg_token_len AS zv FROM f)
        |SELECT doc_id, n_tokens, stop_ratio, punct_ratio, avg_token_len,
        |  ROUND(1.0 / (1.0 + exp(-zv)), 4) AS q_score,
        |  ROUND(1.0 / (1.0 + exp(-zv)), 4) >= 0.5 AS keep
        |FROM z ORDER BY doc_id""".stripMargin)),

    // ---- End-to-end curation funnel over the round-5 ops: per-stage
    // survivor counts (the report every curation pipeline publishes).
    // boilerplate line-filter FIRST (it needs line structure; normalize
    // collapses newlines), then NFC normalize, then the model-based
    // quality gate, then exact dedup on the normalized text. Half the
    // docs get a proper sentence appended (survive boilerplate); of
    // those, doc_id % 8 == 0 get a punct-heavy variant that fails the
    // quality gate; all surviving texts are identical after cleanup, so
    // the dedup stage collapses them to one representative. ----
    QDef("curation_funnel",
      (s, d) => {
        val base = documents(s, d).withColumn("text",
          when(col("doc_id") % 2 === 0, concat(col("text"), lit("\n"),
            when(col("doc_id") % 8 === 0, lit(funnelSentB))
              .otherwise(lit(funnelSentA))))
          .otherwise(col("text")))
        // ONE corpus scan: per-doc survival flags ride a single
        // aggregate (a naive union-of-counts would re-execute the whole
        // chain once per stage — 5 scans at 100 TB).
        val flags = TextAnalysis.boilerplateFilter(base, minWords = 5)
          .withColumn("ntext", TextAnalysis.normalizeText(col("clean_text")))
          .withColumn("b_ok", col("n_kept") >= 1)
          .withColumn("q_ok", col("b_ok") &&
            (TextAnalysis.qualityScoreExpr(col("ntext")) >= 0.3))
        flags.agg(
            count(lit(1)).as("n0"),
            count(when(col("b_ok"), 1)).as("n1"),
            count(when(col("b_ok"), 1)).as("n2"),
            count(when(col("q_ok"), 1)).as("n3"),
            countDistinct(when(col("q_ok"), col("ntext"))).as("n4"))
          .selectExpr("""stack(5,
            '0_ingested', n0, '1_boilerplate', n1, '2_normalized', n2,
            '3_quality', n3, '4_unique', n4) AS (stage, n_docs)""")
          .orderBy("stage")
      },
      Some(s"""WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
        |    THEN text || chr(10) || CASE WHEN doc_id % 8 = 0
        |      THEN '$funnelSentB' ELSE '$funnelSentA' END
        |    ELSE text END AS text FROM documents),
        |b AS (SELECT doc_id, list_filter(string_split(text, chr(10)), x ->
        |    len(string_split_regex(trim(x), '\\s+')) >= 5
        |    AND regexp_matches(trim(x), '[.!?]$$')) AS kept FROM inj),
        |s2 AS (SELECT doc_id, array_to_string(kept, chr(10)) AS text
        |  FROM b WHERE len(kept) >= 1),
        |n AS (SELECT doc_id, trim(regexp_replace(nfc_normalize(
        |    regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')),
        |    '\\s+', ' ', 'g')) AS text FROM s2),
        |f AS (SELECT doc_id, text,
        |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        |    x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) /
        |    GREATEST(len(string_split_regex(trim(text), '\\s+')), 1), 4) AS stop_ratio,
        |  ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) /
        |    GREATEST(length(text), 1), 4) AS punct_ratio,
        |  ROUND(CAST(length(text) - (len(string_split_regex(trim(text), '\\s+')) - 1) AS DOUBLE) /
        |    GREATEST(len(string_split_regex(trim(text), '\\s+')), 1), 4) AS avg_token_len
        |  FROM n),
        |q AS (SELECT doc_id, text FROM f
        |  WHERE ROUND(1.0 / (1.0 + exp(-(-1.0 + 0.55 * ln(1.0 + n_tokens)
        |    + 2.0 * stop_ratio - 3.0 * punct_ratio - 0.05 * avg_token_len))), 4) >= 0.3),
        |u AS (SELECT text, MIN(doc_id) AS keep_id FROM q GROUP BY text)
        |SELECT stage, n_docs FROM (
        |  SELECT '0_ingested' AS stage, COUNT(*) AS n_docs FROM inj
        |  UNION ALL SELECT '1_boilerplate', COUNT(*) FROM s2
        |  UNION ALL SELECT '2_normalized', COUNT(*) FROM n
        |  UNION ALL SELECT '3_quality', COUNT(*) FROM q
        |  UNION ALL SELECT '4_unique', COUNT(*) FROM u)
        |ORDER BY stage""".stripMargin)),

    // ---- Distribution-drift gate (PSI over fixed bins): reference =
    // first half of the corpus by doc_id, current = second half, over
    // doc length. Bin edges are declared, never data-derived, so the
    // report is comparable across runs and engines; empty bins appear
    // with zero counts. Two scans, O(bins) rows shuffled. ----
    QDef("drift_psi",
      (s, d) => {
        val docs = documents(s, d)
        Drift.psi(docs.filter(col("doc_id") < 250),
            docs.filter(col("doc_id") >= 250),
            "n_chars", lo = 0.0, hi = 1000.0, bins = 10)
          .orderBy("bin")
      },
      Some("""WITH r AS (SELECT LEAST(9, GREATEST(0,
        |    CAST(FLOOR(CAST(n_chars AS DOUBLE) / 1000 * 10) AS BIGINT))) AS bin
        |  FROM documents WHERE doc_id < 250),
        |c AS (SELECT LEAST(9, GREATEST(0,
        |    CAST(FLOOR(CAST(n_chars AS DOUBLE) / 1000 * 10) AS BIGINT))) AS bin
        |  FROM documents WHERE doc_id >= 250),
        |hr AS (SELECT bin, COUNT(*) AS n_ref FROM r GROUP BY bin),
        |hc AS (SELECT bin, COUNT(*) AS n_cur FROM c GROUP BY bin),
        |sp AS (SELECT unnest(generate_series(0, 9)) AS bin),
        |j AS (SELECT sp.bin, COALESCE(hr.n_ref, 0) AS n_ref,
        |    COALESCE(hc.n_cur, 0) AS n_cur
        |  FROM sp LEFT JOIN hr USING (bin) LEFT JOIN hc USING (bin)),
        |t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM j),
        |p AS (SELECT bin, n_ref, n_cur,
        |    GREATEST(n_ref / CAST(t_ref AS DOUBLE), 1e-6) AS p_ref,
        |    GREATEST(n_cur / CAST(t_cur AS DOUBLE), 1e-6) AS p_cur
        |  FROM j CROSS JOIN t),
        |w AS (SELECT *, ROUND((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS contrib
        |  FROM p)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST(n_cur AS BIGINT) AS n_cur, ROUND(p_ref, 6) AS p_ref,
        |  ROUND(p_cur, 6) AS p_cur, contrib,
        |  ROUND(SUM(contrib) OVER (), 6) AS psi
        |FROM w ORDER BY bin""".stripMargin)),

    // ---- Embedding-distribution drift (Drift.embeddingDrift): cosine
    // of per-dim mean vectors + L2 shift + worst dimension — the
    // "re-embed or ingest?" triage over the embeddings table. ----
    QDef("drift_embedding",
      (s, d) => {
        val emb = embeddings(s, d)
        Drift.embeddingDrift(emb.filter(col("vec_id") < 250),
          emb.filter(col("vec_id") >= 250))
      },
      Some("""WITH r AS (SELECT embedding AS e FROM embeddings WHERE vec_id < 250),
        |c AS (SELECT embedding AS e FROM embeddings WHERE vec_id >= 250),
        |rd AS (SELECT unnest([i - 1 FOR i IN generate_series(1, len(e))]) AS dim,
        |    unnest(e) AS x FROM r),
        |cd AS (SELECT unnest([i - 1 FOR i IN generate_series(1, len(e))]) AS dim,
        |    unnest(e) AS x FROM c),
        |rm AS (SELECT dim, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS m_ref,
        |    COUNT(*) AS n_ref FROM rd GROUP BY dim),
        |cm AS (SELECT dim, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS m_cur,
        |    COUNT(*) AS n_cur FROM cd GROUP BY dim),
        |j AS (SELECT * FROM rm JOIN cm USING (dim))
        |SELECT CAST(MAX(n_ref) AS BIGINT) AS n_ref,
        |  CAST(MAX(n_cur) AS BIGINT) AS n_cur,
        |  ROUND(SUM(m_ref * m_cur) /
        |    (SQRT(SUM(m_ref * m_ref)) * SQRT(SUM(m_cur * m_cur))), 6) AS cos_means,
        |  ROUND(SQRT(SUM(POWER(m_ref - m_cur, 2))), 6) AS shift_l2,
        |  ROUND(MAX(ABS(m_ref - m_cur)), 6) AS max_dim_shift
        |FROM j""".stripMargin)),

    // ---- PSI over LOG-HISTOGRAM buckets (Drift.psiLogHist): the
    // continuous-column drift gate — no declared [lo, hi) needed, the
    // multiplicative buckets cover the double range with bounded
    // relative width. Spine = union of observed buckets. ----
    QDef("drift_psi_loghist",
      (s, d) => {
        val docs = documents(s, d)
        Drift.psiLogHist(docs.filter(col("doc_id") < 250),
            docs.filter(col("doc_id") >= 250), "n_chars", relErr = 0.05)
          .orderBy("bucket")
      },
      Some {
        val sc = 1.0 / math.log1p(0.05)
        val off = math.ceil(745.0 * sc).toLong + 2L
        val bucket = "CASE WHEN v = 0 THEN 0 ELSE CAST(SIGN(v) * " +
          s"(FLOOR(ROUND(LN(ABS(v)) * $sc, 9)) + $off) AS BIGINT) END"
        s"""WITH r AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE doc_id < 250),
        |c AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE doc_id >= 250),
        |hb AS (SELECT bucket, SUM(r) AS n_ref, SUM(c) AS n_cur FROM (
        |    SELECT $bucket AS bucket, 1 AS r, 0 AS c FROM r WHERE v IS NOT NULL
        |    UNION ALL
        |    SELECT $bucket, 0, 1 FROM c WHERE v IS NOT NULL)
        |  GROUP BY bucket),
        |t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM hb),
        |p AS (SELECT bucket, n_ref, n_cur,
        |    GREATEST(n_ref / CAST(t_ref AS DOUBLE), 1e-6) AS p_ref,
        |    GREATEST(n_cur / CAST(t_cur AS DOUBLE), 1e-6) AS p_cur
        |  FROM hb CROSS JOIN t),
        |w AS (SELECT *, ROUND((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS contrib
        |  FROM p)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST(n_cur AS BIGINT) AS n_cur, ROUND(p_ref, 6) AS p_ref,
        |  ROUND(p_cur, 6) AS p_cur, contrib,
        |  ROUND(SUM(contrib) OVER (), 6) AS psi
        |FROM w ORDER BY bucket""".stripMargin
      }),

    // ---- Zipf coverage curve (TextAnalysis.vocabCoverage): corpus-token
    // coverage of the top-N types per candidate vocab size — computed
    // over frequency TIERS, never a global type ranking, so the boundary
    // tier needs no tie-break and the number is engine-exact. ----
    QDef("text_vocab_coverage",
      (s, d) => TextAnalysis.vocabCoverage(documents(s, d),
          cutoffs = Seq(100L, 500L, 1000L, 5000L))
        .orderBy("vocab_size"),
      Some("""WITH tok AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS tok FROM documents),
        |vc AS (SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok),
        |tiers AS (SELECT freq, COUNT(*) AS n_types,
        |    freq * COUNT(*) AS tokens FROM vc GROUP BY freq),
        |cum AS (SELECT *, SUM(n_types) OVER (ORDER BY freq DESC
        |    ROWS UNBOUNDED PRECEDING) AS cum_types FROM tiers),
        |pc AS (SELECT *, cum_types - n_types AS prev_types FROM cum),
        |t AS (SELECT SUM(tokens) AS total FROM tiers),
        |cuts AS (SELECT unnest([100, 500, 1000, 5000]) AS vocab_size)
        |SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
        |  CAST(SUM(LEAST(n_types, vocab_size - prev_types)) AS BIGINT) AS n_types,
        |  CAST(SUM(LEAST(n_types, vocab_size - prev_types) * freq) AS BIGINT)
        |    AS covered_tokens,
        |  ROUND(SUM(LEAST(n_types, vocab_size - prev_types) * freq) /
        |    CAST((SELECT total FROM t) AS DOUBLE), 6) AS coverage
        |FROM cuts JOIN pc ON prev_types < vocab_size
        |GROUP BY vocab_size ORDER BY vocab_size""".stripMargin)),

    // ---- Vocabulary build + dictionary encode (TextAnalysis.vocabEncode):
    // top-500 vocab by (freq DESC, token ASC), ids 1..500, OOV → 0,
    // per-doc token-id sequence reassembled in position order. ----
    QDef("text_vocab_encode",
      (s, d) => TextAnalysis.vocabEncode(documents(s, d), v = 500)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |tok AS (SELECT doc_id, unnest(t) AS tok,
        |    unnest([i FOR i IN generate_series(1, len(t))]) AS pos FROM toks),
        |vf AS (SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok),
        |vocab AS (SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY freq DESC,
        |    tok ASC) AS INT) AS tok_id
        |  FROM vf ORDER BY freq DESC, tok ASC LIMIT 500),
        |enc AS (SELECT t.doc_id, t.pos, COALESCE(v.tok_id, 0) AS id
        |  FROM tok t LEFT JOIN vocab v USING (tok))
        |SELECT doc_id, COUNT(*) AS n_toks,
        |  CAST(COUNT(*) FILTER (id = 0) AS BIGINT) AS n_oov,
        |  array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos), ' ') AS ids_str
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- Q52: exact quantile profile (Profiler.quantileProfile) — one
    // scan, quantile_cont interpolation in both engines. q52b is the
    // bounded-memory approx_percentile form (q38b sanity pattern). ----
    QDef("q52_quantile_profile",
      (s, d) => graft.ops.Profiler.quantileProfile(lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          rowsHint = Tables.footerRowCount(s, d, "lineitem"))
        .orderBy("column"),
      Some(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(c => s"""SELECT '$c' AS "column", """ +
          s"ROUND(MIN(CAST($c AS DOUBLE)), 4) AS minv, " +
          s"ROUND(quantile_cont(CAST($c AS DOUBLE), 0.25), 4) AS p25, " +
          s"ROUND(quantile_cont(CAST($c AS DOUBLE), 0.50), 4) AS p50, " +
          s"ROUND(quantile_cont(CAST($c AS DOUBLE), 0.75), 4) AS p75, " +
          s"ROUND(quantile_cont(CAST($c AS DOUBLE), 0.95), 4) AS p95, " +
          s"ROUND(MAX(CAST($c AS DOUBLE)), 4) AS maxv FROM lineitem")
        .mkString("", " UNION ALL ", """ ORDER BY "column""""))),

    QDef("q52b_quantile_profile_approx",
      (s, d) => {
        val qs = Seq("p25", "p50", "p75", "p95").map(col)
        val ordered = qs.zip(qs.tail).map { case (a, b) => a <= b }
          .reduce(_ && _)
        val bracketed = col("minv") <= col("p25") && col("p95") <= col("maxv")
        // GK summaries over a deterministic 1-in-10 hash-sample (estimates
        // only need a sample; the interpreted GK update is the whole cost),
        // exact min/max over all rows in the same pass — see
        // Profiler.quantileProfileApprox
        graft.ops.Profiler.quantileProfileApprox(lineitem(s, d),
            Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
            sampleKeys = Seq("l_orderkey", "l_linenumber"), sampleOneIn = 10)
          .select(col("column"), col("minv"), col("maxv"),
            (ordered && bracketed).as("approx_sane"))
          .orderBy("column")
      },
      Some(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(c => s"""SELECT '$c' AS "column", """ +
          s"ROUND(MIN(CAST($c AS DOUBLE)), 4) AS minv, " +
          s"ROUND(MAX(CAST($c AS DOUBLE)), 4) AS maxv, " +
          s"true AS approx_sane FROM lineitem")
        .mkString("", " UNION ALL ", """ ORDER BY "column""""))),

    // ---- Q52c: log-histogram quantile profile — the CODEGEN bounded-
    // memory path (Profiler.quantileProfileLogHist). Unlike GK (q52b),
    // bucketing is deterministic, so the whole profile value-compares:
    // the oracle transliterates the bucket formula with the SAME s/off
    // constants (Double.toString round-trips through DuckDB's literal
    // parser; the ln quantization absorbs last-ulp libm differences). ----
    QDef("q52c_quantile_profile_loghist",
      (s, d) => graft.ops.Profiler.quantileProfileLogHist(lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("column"),
      Some {
        val relErr = 0.01
        val sc = 1.0 / math.log1p(relErr)
        val off = math.ceil(745.0 * sc).toLong + 2L
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val vals = cols.map(c =>
          s"""SELECT '$c' AS "column", CAST($c AS DOUBLE) AS v FROM lineitem""")
          .mkString(" UNION ALL ")
        val ranks = Seq(25 -> 0.25, 50 -> 0.5, 75 -> 0.75, 95 -> 0.95)
          .map { case (pct, p) =>
            s"ROUND(MIN(CASE WHEN cum >= FLOOR((n - 1) * $p) + 1 " +
              s"THEN bmin END), 4) AS p$pct" }
          .mkString(", ")
        s"""WITH vals AS ($vals),
        |b AS (SELECT "column", v, CASE WHEN v = 0 THEN 0
        |    ELSE CAST(SIGN(v) * (FLOOR(ROUND(LN(ABS(v)) * $sc, 9)) + $off)
        |      AS BIGINT) END AS b
        |  FROM vals WHERE v IS NOT NULL),
        |g AS (SELECT "column", b, COUNT(*) AS cnt, MIN(v) AS bmin,
        |    MAX(v) AS bmax FROM b GROUP BY 1, 2),
        |c AS (SELECT *, SUM(cnt) OVER (PARTITION BY "column" ORDER BY bmin) AS cum,
        |    SUM(cnt) OVER (PARTITION BY "column") AS n FROM g)
        |SELECT "column", ROUND(MIN(bmin), 4) AS minv,
        |  $ranks,
        |  ROUND(MAX(bmax), 4) AS maxv
        |FROM c GROUP BY "column" ORDER BY "column"""".stripMargin
      }),

    // ---- Exact two-sample KS statistic over the same ref/cur split as
    // drift_psi. Value-level aggregation first (one shuffle, map-side
    // combined), so the cumulative-CDF window sees O(distinct values)
    // rows — KS is for discrete/bounded-V columns; quantize (drift_psi)
    // for continuous ones. ----
    QDef("drift_ks",
      (s, d) => {
        val docs = documents(s, d)
        Drift.ks(docs.filter(col("doc_id") < 250),
          docs.filter(col("doc_id") >= 250), "n_chars")
      },
      Some("""WITH r AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE doc_id < 250),
        |c AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE doc_id >= 250),
        |cnt AS (SELECT v, SUM(nr) AS n_r, SUM(nc) AS n_c FROM (
        |    SELECT v, COUNT(*) AS nr, 0 AS nc FROM r GROUP BY v
        |    UNION ALL SELECT v, 0, COUNT(*) FROM c GROUP BY v)
        |  GROUP BY v),
        |cdf AS (SELECT v,
        |    SUM(n_r) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum_r,
        |    SUM(n_c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum_c
        |  FROM cnt),
        |t AS (SELECT SUM(n_r) AS t_r, SUM(n_c) AS t_c FROM cnt)
        |SELECT ROUND(MAX(ABS(cum_r / CAST(t_r AS DOUBLE)
        |    - cum_c / CAST(t_c AS DOUBLE))), 6) AS d_stat,
        |  CAST(MAX(t_r) AS BIGINT) AS n_ref, CAST(MAX(t_c) AS BIGINT) AS n_cur
        |FROM cdf CROSS JOIN t""".stripMargin)),

    QDef("text_lang_id",
      (s, d) => TextAnalysis.langId(documents(s, d))
        .select("doc_id", "lang", "pred_lang")
        .orderBy("doc_id"),
      Some {
        val branches = TextAnalysis.langMarkers.map { case (lang, ms) =>
          val set = ms.map(m => s"'$m'").mkString(", ")
          s"SELECT doc_id, '$lang' AS cand, " +
            s"len(list_filter(toks, x -> x IN ($set))) AS score FROM t"
        }.mkString("\n  UNION ALL ")
        s"""WITH t AS (SELECT doc_id,
           |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
           |s AS ($branches)
           |SELECT s.doc_id, d.lang, cand AS pred_lang FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
           |    ORDER BY score DESC, cand) AS rn FROM s) s
           |JOIN documents d ON d.doc_id = s.doc_id
           |WHERE rn = 1 ORDER BY s.doc_id""".stripMargin
      }),

    // End-to-end curation chain (quality → language → near-dup keeper);
    // oracle recomposes the text_quality / text_lang_id / fingerprint
    // oracle SQL with the same thresholds and first-failing-rule CASE.
    QDef("text_curation",
      (s, d) => TextAnalysis.curate(documents(s, d)).orderBy("doc_id"),
      Some {
        val branches = TextAnalysis.langMarkers.map { case (lang, ms) =>
          val set = ms.map(m => s"'$m'").mkString(", ")
          s"SELECT doc_id, '$lang' AS cand, " +
            s"len(list_filter(toks, x -> x IN ($set))) AS score FROM t"
        }.mkString("\n  UNION ALL ")
        s"""WITH q AS (SELECT doc_id, text,
           |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           |    ROUND(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
           |      x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) /
           |      GREATEST(len(string_split_regex(trim(text), '\\s+')), 1), 4) AS stop_ratio,
           |    ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) /
           |      GREATEST(length(text), 1), 4) AS punct_ratio
           |  FROM documents),
           |t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
           |  FROM documents),
           |s AS ($branches),
           |pl AS (SELECT doc_id, cand AS pred_lang FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
           |    ORDER BY score DESC, cand) AS rn FROM s) WHERE rn = 1),
           |base AS (SELECT q.doc_id, q.text, q.n_tokens, pl.pred_lang,
           |    (q.n_tokens >= 20 AND q.stop_ratio <= 0.15 AND q.punct_ratio <= 0.2) AS q_ok,
           |    (pl.pred_lang IN ('en', 'es')) AS l_ok
           |  FROM q JOIN pl ON q.doc_id = pl.doc_id),
           |surv AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(
           |    array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' '))) AS keep_id
           |  FROM base WHERE q_ok AND l_ok)
           |SELECT b.doc_id, b.pred_lang, b.n_tokens,
           |  CASE WHEN NOT b.q_ok THEN 'quality'
           |       WHEN NOT b.l_ok THEN 'language'
           |       WHEN b.doc_id <> sv.keep_id THEN 'duplicate' END AS drop_reason
           |FROM base b LEFT JOIN surv sv ON b.doc_id = sv.doc_id
           |ORDER BY b.doc_id""".stripMargin
      }),

    // ---- Q42: FULL OUTER join — both unmatched sides surface (the one
    // join shape q03-q35 didn't cover). Null keys coalesce for a total
    // sort order. ----
    QDef("q42_full_outer",
      (s, d) => {
        val custTotals = orders(s, d).groupBy("o_custkey")
          .agg(decSum2(col("o_totalprice")).as("spend"))
        val bigCust = customer(s, d)
          .filter(col("c_acctbal") > 9000)
          .select(col("c_custkey"), col("c_name"))
        bigCust.join(custTotals, col("c_custkey") === col("o_custkey"), "full_outer")
          .filter(col("c_custkey").isNull || col("o_custkey").isNull)
          .select(
            coalesce(col("c_custkey"), lit(-1L)).as("c_custkey"),
            coalesce(col("o_custkey"), lit(-1L)).as("o_custkey"),
            coalesce(col("c_name"), lit("_")).as("c_name"),
            coalesce(col("spend"), lit(0.0)).as("spend"))
          .orderBy("c_custkey", "o_custkey")
      },
      Some("""WITH t AS (SELECT o_custkey,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1),
        |b AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000)
        |SELECT COALESCE(c_custkey, -1) AS c_custkey,
        |  COALESCE(o_custkey, -1) AS o_custkey,
        |  COALESCE(c_name, '_') AS c_name,
        |  COALESCE(spend, 0.0) AS spend
        |FROM b FULL OUTER JOIN t ON b.c_custkey = t.o_custkey
        |WHERE c_custkey IS NULL OR o_custkey IS NULL
        |ORDER BY 1, 2""".stripMargin)),

    // ---- Q41: grouped top-k as a NATIVE operator (custom LogicalPlan +
    // Strategy + two-stage SparkPlan, plans/GroupedTopK.scala): per-key
    // heaps bound each map partition to k rows per key BEFORE the
    // shuffle — O(keys·k·partitions) crosses the wire, not O(rows).
    // Same answer as the window form (the oracle), better plan;
    // GroupedTopKSpec pins it against that form, hot key included. ----
    QDef("q41_topk_perkey",
      (s, d) => {
        // one exchange, not two: see q09 — the pk clustering serves both
        // the (pk, sk) agg and ExactTopKExec's ClusteredDistribution(pk)
        val votes = lineitem(s, d)
          .select("l_partkey", "l_suppkey")
          .repartition(col("l_partkey"))
          .groupBy("l_partkey", "l_suppkey").agg(count(lit(1)).as("cnt"))
        plans.GroupedTopK.perKey(votes, "l_partkey",
            Seq("cnt" -> false, "l_suppkey" -> true), k = 2)
          .orderBy("l_partkey", "l_suppkey")
      },
      Some("""SELECT l_partkey, l_suppkey, cnt FROM (
        |SELECT l_partkey, l_suppkey, cnt,
        |ROW_NUMBER() OVER (PARTITION BY l_partkey
        |  ORDER BY cnt DESC, l_suppkey ASC) AS rn
        |FROM (SELECT l_partkey, l_suppkey, COUNT(*) AS cnt
        |      FROM lineitem GROUP BY 1, 2))
        |WHERE rn <= 2 ORDER BY l_partkey, l_suppkey""".stripMargin)),

    // ---- Q40: explicit GROUPING SETS with grouping() disambiguation —
    // the general form behind rollup (q11) and cube (q28): two chosen
    // grouping combinations without the Expand (r19, the q11 treatment:
    // Catalyst's GROUPING SETS doubles every fact row through an Expand
    // node before the partial aggregate sees it). Both requested sets are
    // exact re-aggregations of the finest (flag, status) aggregate —
    // COUNT sums; the decimal SUM stays UNROUNDED until the end, so
    // summing the ~6 sub-sums is associative decimal arithmetic — and the
    // grouping() indicator columns are constants per set. One fact scan
    // at 1/2 the partial-agg updates; the base is materialized (~6 rows)
    // so the two set derivations never re-run the fact aggregation. ----
    QDef("q40_grouping_sets",
      (s, d) => {
        val base = graft.ops.Materialize(lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).as("qd")))
        // set (l_returnflag): l_linestatus grouped out ⇒ NULL ⇒ '_',
        // grouping(l_returnflag)=0, grouping(l_linestatus)=1
        val byFlag = base.groupBy("l_returnflag")
          .agg(sum("n").as("n"), sum("qd").as("qd"))
          .select(coalesce(col("l_returnflag"), lit("_")).as("l_returnflag"),
            lit("_").as("l_linestatus"),
            lit(0L).as("g_flag"), lit(1L).as("g_status"),
            col("n"), col("qd"))
        val byStatus = base.groupBy("l_linestatus")
          .agg(sum("n").as("n"), sum("qd").as("qd"))
          .select(lit("_").as("l_returnflag"),
            coalesce(col("l_linestatus"), lit("_")).as("l_linestatus"),
            lit(1L).as("g_flag"), lit(0L).as("g_status"),
            col("n"), col("qd"))
        byFlag.unionAll(byStatus)
          .select(col("l_returnflag"), col("l_linestatus"),
            col("g_flag"), col("g_status"), col("n"),
            round(col("qd"), 2).cast("double").as("q"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT COALESCE(l_returnflag, '_') AS l_returnflag,
        |COALESCE(l_linestatus, '_') AS l_linestatus,
        |CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |COUNT(*) AS n,
        |CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS q
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- Q39: time-series resample with gap fill — dense 5-min grid per
    // event type (min..max bucket), empty buckets as explicit zero rows.
    // The grid is built from a 1-row min/max aggregate cross-joined with
    // the distinct type set (broadcast both ways at any scale); only the
    // final left join shuffles, on (type, bucket). ----
    QDef("q39_resample_gapfill",
      (s, d) => {
        val e = events(s, d).select(col("event_type"),
          (floor(unix_timestamp(col("ts")) / 300) * 300).cast("long").as("b"),
          col("value"))
        val agg = e.groupBy("event_type", "b")
          .agg(count(lit(1)).as("n"), decSum2(col("value")).as("sum_v"))
        val grid = e.select("event_type").distinct()
          .crossJoin(e.agg(min("b").as("mn"), max("b").as("mx"))
            .select(explode(sequence(col("mn"), col("mx"), lit(300L))).as("b")))
        grid.join(agg, Seq("event_type", "b"), "left")
          .select(col("event_type"), col("b").as("bucket_epoch"),
            coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("sum_v"), lit(0.0)).as("sum_v"))
          .orderBy("event_type", "bucket_epoch")
      },
      Some("""WITH e AS (SELECT event_type,
        |    CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b, value FROM events),
        |agg AS (SELECT event_type, b, COUNT(*) AS n,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_v
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT MIN(b) AS mn, MAX(b) AS mx FROM e),
        |grid AS (SELECT t.event_type, g.g AS b
        |  FROM (SELECT DISTINCT event_type FROM e) t
        |  CROSS JOIN (SELECT unnest(generate_series(mn, mx, 300)) AS g FROM r) g)
        |SELECT grid.event_type, grid.b AS bucket_epoch,
        |  COALESCE(agg.n, 0) AS n, COALESCE(agg.sum_v, 0.0) AS sum_v
        |FROM grid LEFT JOIN agg ON grid.event_type = agg.event_type AND grid.b = agg.b
        |ORDER BY grid.event_type, bucket_epoch""".stripMargin)),

    // Deterministic hash split: every row's fate is a pure function of
    // its key — reproducible across reruns/cluster sizes/engines, unlike
    // RNG sampling. Oracle replays the md5 bucket arithmetic.
    QDef("sample_hash_split",
      (s, d) => Sampling.hashSplit(documents(s, d), "doc_id")
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split"),
      Some("""SELECT CASE WHEN CAST(('0x'||substr(md5('split:' || CAST(doc_id AS VARCHAR)),1,15))
        |    AS BIGINT) % 100 < 80 THEN 'train' ELSE 'val' END AS split,
        |  COUNT(*) AS n
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin)),

    // Sliding-window chunking (64-token windows, stride 48): map-only
    // sequence+explode; a 100 TB corpus chunks without any shuffle.
    QDef("text_chunks",
      (s, d) => TextAnalysis.chunk(documents(s, d), window = 64, stride = 48)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
          substring(col("chunk_text"), 1, 40).as("chunk_head"))
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d),
        |c AS (SELECT doc_id, n, toks, UNNEST(generate_series(0,
        |    CASE WHEN n <= 64 THEN 0 ELSE (n - 64 + 47) // 48 END)) AS chunk_id
        |  FROM n)
        |SELECT doc_id, chunk_id,
        |  CAST(len(toks[(chunk_id*48+1):LEAST(chunk_id*48+64, n)]) AS BIGINT)
        |    AS n_chunk_tokens,
        |  substring(array_to_string(toks[(chunk_id*48+1):LEAST(chunk_id*48+64, n)],
        |    ' '), 1, 40) AS chunk_head
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // Cross-document CHUNK overlap: doc-level dedup misses partial
    // duplication (a doc embedding another doc's paragraphs); chunk
    // fingerprints self-equi-join on the hash — shuffle clusters on
    // chunk content, no cartesian — and count shared chunks per pair.
    QDef("text_chunk_overlap",
      (s, d) => {
        val ch = TextAnalysis.chunk(documents(s, d).filter(col("doc_id") < 300),
            window = 32, stride = 32)
          .select(col("doc_id"), md5(col("chunk_text")).as("ch"))
        val a = ch.select(col("doc_id").as("doc_a"), col("ch"))
        val b = ch.select(col("doc_id").as("doc_b"), col("ch"))
        a.join(b, "ch").filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_shared_chunks"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE doc_id < 300),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d),
        |c AS (SELECT doc_id, n, toks, UNNEST(generate_series(0,
        |    CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 31) // 32 END)) AS chunk_id
        |  FROM n),
        |ch AS (SELECT doc_id, md5(array_to_string(
        |    toks[(chunk_id*32+1):LEAST(chunk_id*32+32, n)], ' ')) AS ch FROM c)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  COUNT(*) AS n_shared_chunks
        |FROM ch a JOIN ch b ON a.ch = b.ch AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin)),

    // Entity resolution: fuzzy part-name pairs blocked on
    // (brand, type) — equi-join candidates, edit distance only inside
    // blocks, never an all-pairs cartesian (ops/EntityResolution.scala).
    QDef("er_fuzzy_pairs",
      (s, d) => graft.ops.EntityResolution.blockedPairs(part(s, d),
          "p_partkey", "p_name", Seq("p_brand", "p_type"), maxDistance = 3)
        .select(col("id_a"), col("id_b"), col("distance").cast("long").as("distance"))
        .orderBy("id_a", "id_b"),
      Some("""WITH p AS (SELECT p_partkey, p_name, p_brand, p_type FROM part)
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
        |FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_type = b.p_type
        |  AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY id_a, id_b""".stripMargin)),

    // Stratified sample: 10% within each order status — per-stratum
    // hash streams keep small strata at their own rate (map-only; the
    // groupBy here is only the declared query's summary).
    QDef("sample_stratified",
      (s, d) => Sampling.stratifiedSample(orders(s, d), "o_orderstatus",
          "o_orderkey", pct = 10)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, COUNT(*) AS n FROM orders
        |WHERE CAST(('0x'||substr(md5('strat:' || o_orderstatus || '|'
        |    || CAST(o_orderkey AS VARCHAR)),1,15)) AS BIGINT) % 100 < 10
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // Per-shard token-budget packing (streaming-concat approximation):
    // hash-shard, then a per-shard running token sum assigns sequence
    // ids. Packing is sequential by nature — sharding IS the scale knob.
    QDef("sample_pack_budget",
      (s, d) => Sampling.packByBudget(documents(s, d), budgetTokens = 512,
          nShards = 8)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 8 AS shard
        |  FROM documents)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(FLOOR(CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
        |    - n_tokens AS DOUBLE) / 512) AS BIGINT) AS seq_id
        |FROM t ORDER BY doc_id""".stripMargin)),

    // ---- BPE tokenizer training: corpus read once into an O(|vocab|)
    // word-type table; each merge round is a partial-agg pair count +
    // TakeOrdered(1) + a map-side fold. Exact long counts with a
    // (cnt DESC, l, r) tiebreak make the learned merges
    // engine-reproducible — the oracle unrolls the rounds as CTEs. ----
    QDef("text_bpe",
      (s, d) => {
        val (m, _) = Bpe.train(documents(s, d), nMerges = 8,
          corpusDocs = Some(Tables.footerRowCount(s, d, "documents")))
        Bpe.mergeTable(s, m).orderBy("merge_round")
      },
      Some(bpeRoundsCtes(8) + "\n" + (1 to 8).map(r =>
        s"SELECT $r AS merge_round, ml AS l_sym, mr AS r_sym, " +
          s"ml || mr AS merged, CAST(cnt AS BIGINT) AS freq FROM t$r")
        .mkString("\nUNION ALL ") + "\nORDER BY merge_round")),

    // Per-document token counts under the TRAINED tokenizer: one
    // equi-join of exploded tokens against the vocab-sized segmentation
    // table (AQE broadcasts it), one per-doc partial-agg.
    // Out-of-alphabet tokens count as one opaque subtoken.
    QDef("text_bpe_encode",
      (s, d) => {
        val docs = documents(s, d)
        val (_, w) = Bpe.train(docs, nMerges = 8,
          corpusDocs = Some(Tables.footerRowCount(s, d, "documents")))
        Bpe.encodeCounts(docs, w).orderBy("doc_id")
      },
      Some(bpeEncodeCtes(8) +
        "\nSELECT doc_id, n_toks, n_subtokens FROM enc ORDER BY doc_id")),

    // Budget packing measured in the trained tokenizer's units — the
    // budget the downstream trainer actually consumes. Same plan as
    // sample_pack_budget (hash-shard, per-shard running-sum window) fed
    // by the BPE counts.
    QDef("sample_pack_bpe",
      (s, d) => {
        val docs = documents(s, d)
        val (_, w) = Bpe.train(docs, nMerges = 8,
          corpusDocs = Some(Tables.footerRowCount(s, d, "documents")))
        Bpe.packByBpeBudget(docs, w, budgetTokens = 256, nShards = 8)
          .orderBy("doc_id")
      },
      Some(bpeEncodeCtes(8) + """,
        |sh AS (SELECT doc_id, n_subtokens,
        |    CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 8 AS shard
        |  FROM enc)
        |SELECT doc_id, shard, n_subtokens,
        |  CAST(FLOOR(CAST(SUM(n_subtokens) OVER (PARTITION BY shard ORDER BY doc_id)
        |    - n_subtokens AS DOUBLE) / 256) AS BIGINT) AS seq_id
        |FROM sh ORDER BY doc_id""".stripMargin)),

    // ---- Flesch reading ease (vowel-group syllable proxy, [.!?]+ run
    // sentence count, both floored at 1). Map-only. Both sides compute
    // the score in EXACT integer space (N = 206835·s·w − 1015·w² −
    // 84600·syl·s, flesch = round(N·10/(s·w))/10⁴) so the round input
    // is the identical IEEE double in both engines — the naive per-term
    // double form hit a 4-dp rounding boundary at sf1. ----
    QDef("text_readability",
      (s, d) => TextAnalysis.readability(documents(s, d)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS w, text
        |  FROM documents),
        |c AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(list_reduce(list_transform(w, x ->
        |      GREATEST(len(regexp_extract_all(x, '[aeiouy]+')), 1)),
        |      (a, b) -> a + b) AS BIGINT) AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words <= 600000
        |        AND n_sentences * n_words <= 4000000000
        |        AND n_syllables * n_sentences <= 5000000000
        |  THEN ROUND(CAST((206835 * n_sentences * n_words
        |      - 1015 * n_words * n_words
        |      - 84600 * n_syllables * n_sentences) * 10 AS DOUBLE)
        |    / CAST(n_sentences * n_words AS DOUBLE)) / 10000.0
        |  ELSE ROUND((CAST(206835 AS DOUBLE) / 1000.0
        |      - CAST(1015 AS DOUBLE) / 1000.0 * CAST(n_words AS DOUBLE)
        |        / CAST(n_sentences AS DOUBLE)
        |      - CAST(846 AS DOUBLE) / 10.0 * CAST(n_syllables AS DOUBLE)
        |        / CAST(n_words AS DOUBLE)) * 10000.0) / 10000.0
        |  END AS flesch
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- Per-source corpus datasheet: map-side features, text dropped
    // before the dup-hash window and source rollup shuffle; ratios are
    // integer sums divided once. Pass predicate = prose word band +
    // required-stopword floor (the datasheet is parametric in it). ----
    QDef("corpus_datasheet",
      (s, d) => {
        val t = TextAnalysis.toks(lower(col("text")))
        graft.ops.Profiler.corpusDatasheet(documents(s, d),
            size(t).between(30, 80) &&
              size(array_intersect(array_distinct(t),
                array(TextAnalysis.gopherStopwords.map(lit): _*))) >= 1)
          .orderBy("source")
      },
      Some("""WITH per AS (SELECT source, lang, md5(text) AS h,
        |    len(string_split_regex(trim(lower(text)), '\s+')) AS tok,
        |    CAST(length(text) AS BIGINT) AS chars,
        |    len(string_split_regex(trim(lower(text)), '\s+'))
        |      BETWEEN 30 AND 80
        |    AND len(list_intersect(
        |      list_distinct(string_split_regex(trim(lower(text)), '\s+')),
        |      ['the','be','to','of','and','that','have','with'])) >= 1
        |      AS pass
        |  FROM documents),
        |f AS (SELECT *, COUNT(*) OVER (PARTITION BY h) > 1 AS dup FROM per)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  ROUND(SUM(chars) / CAST(COUNT(*) AS DOUBLE), 2) AS avg_chars,
        |  ROUND(SUM(CASE WHEN pass THEN 1 ELSE 0 END) /
        |    CAST(COUNT(*) AS DOUBLE), 4) AS pass_ratio,
        |  ROUND(SUM(CASE WHEN dup THEN 1 ELSE 0 END) /
        |    CAST(COUNT(*) AS DOUBLE), 4) AS dup_ratio,
        |  ROUND(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) /
        |    CAST(COUNT(*) AS DOUBLE), 4) AS en_ratio
        |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // ---- Corpus snapshot diff: hash-decided added/removed/changed
    // between two snapshots (simulated by deterministic doc_id slices +
    // a text mutation). Full-outer join moves only (id, md5, len). ----
    QDef("snapshot_diff",
      (s, d) => {
        val docs = documents(s, d)
        Drift.corpusDiff(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 =!= 1)
              .withColumn("text", when(col("doc_id") % 7 === 0,
                concat(col("text"), lit(" v2"))).otherwise(col("text"))))
          .filter(col("status") =!= "unchanged").orderBy("doc_id")
      },
      Some("""WITH ref AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 10 <> 0),
        |cur AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
        |    ELSE text END AS text FROM documents WHERE doc_id % 10 <> 1),
        |j AS (SELECT COALESCE(r.doc_id, c.doc_id) AS doc_id,
        |    CASE WHEN r.doc_id IS NULL THEN 'added'
        |         WHEN c.doc_id IS NULL THEN 'removed'
        |         WHEN md5(r.text) = md5(c.text) THEN 'unchanged'
        |         ELSE 'changed' END AS status,
        |    CASE WHEN r.doc_id IS NULL THEN NULL
        |         ELSE CAST(length(r.text) AS BIGINT) END AS n_chars_ref,
        |    CASE WHEN c.doc_id IS NULL THEN NULL
        |         ELSE CAST(length(c.text) AS BIGINT) END AS n_chars_cur
        |  FROM ref r FULL OUTER JOIN cur c ON r.doc_id = c.doc_id)
        |SELECT doc_id, status, n_chars_ref, n_chars_cur FROM j
        |WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin)),

    QDef("snapshot_diff_summary",
      (s, d) => {
        val docs = documents(s, d)
        Drift.corpusDiffSummary(Drift.corpusDiff(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 =!= 1)
              .withColumn("text", when(col("doc_id") % 7 === 0,
                concat(col("text"), lit(" v2"))).otherwise(col("text")))))
          .orderBy("status")
      },
      Some("""WITH ref AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 10 <> 0),
        |cur AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
        |    ELSE text END AS text FROM documents WHERE doc_id % 10 <> 1),
        |j AS (SELECT COALESCE(r.doc_id, c.doc_id) AS doc_id,
        |    CASE WHEN r.doc_id IS NULL THEN 'added'
        |         WHEN c.doc_id IS NULL THEN 'removed'
        |         WHEN md5(r.text) = md5(c.text) THEN 'unchanged'
        |         ELSE 'changed' END AS status,
        |    CASE WHEN r.doc_id IS NULL THEN 0
        |         ELSE CAST(length(r.text) AS BIGINT) END AS n_chars_ref,
        |    CASE WHEN c.doc_id IS NULL THEN 0
        |         ELSE CAST(length(c.text) AS BIGINT) END AS n_chars_cur
        |  FROM ref r FULL OUTER JOIN cur c ON r.doc_id = c.doc_id)
        |SELECT status, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars_cur - n_chars_ref) AS BIGINT) AS chars_delta
        |FROM j GROUP BY status ORDER BY status""".stripMargin)),

    // ---- Asymmetric shingle containment (quote/superset detector):
    // inverted-index self-join with a hot-shingle df cap; sizes counted
    // over the same pruned postings so the ratio is self-consistent. ----
    QDef("dedup_containment",
      (s, d) => Dedup.containmentPairs(documents(s, d), k = 3, tau = 0.3,
        maxDf = 100,
        // broadcast-gate count from parquet footer metadata, driver-side:
        // zero extra Spark jobs on the declared path (r11 ADVICE)
        corpusDocs = Some(Tables.footerRowCount(s, d, "documents")))
        .orderBy("doc_a", "doc_b"),
      Some("""WITH tk AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |shs AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
        |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |          FOR i IN generate_series(1, len(t)-2)]
        |    ELSE [array_to_string(t, ' ')] END)) AS s FROM tk),
        |shl AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS sh FROM shs),
        |cool AS (SELECT sh FROM shl GROUP BY sh HAVING COUNT(*) <= 100),
        |kept AS (SELECT doc_id, sh FROM shl
        |  WHERE sh IN (SELECT sh FROM cool)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
        |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    COUNT(*) AS shared
        |  FROM kept a JOIN kept b USING (sh) WHERE a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, shared, n_sh AS n_sh_a,
        |  ROUND(shared / CAST(n_sh AS DOUBLE), 4) AS containment
        |FROM shared JOIN sizes ON sizes.doc_id = shared.doc_a
        |WHERE ROUND(shared / CAST(n_sh AS DOUBLE), 4) >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- Int8 embedding quantization: per-vector symmetric scale,
    // codes + reconstruction-quality metrics. Map-only, one stage;
    // metric sums run in array-position order on both engines. ----
    QDef("emb_quantize_int8",
      (s, d) => Similarity.quantizeInt8(embeddings(s, d)).orderBy("vec_id"),
      Some("""WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |s AS (SELECT vec_id, e,
        |    GREATEST(list_max(list_transform(e, v -> abs(v))), 1e-12) / 127
        |      AS scale FROM x),
        |c AS (SELECT vec_id, e, scale,
        |    list_transform(e, v -> CAST(GREATEST(LEAST(ROUND(v / scale),
        |      127), -127) AS INT)) AS q FROM s)
        |SELECT vec_id, ROUND(scale, 6) AS scale,
        |  array_to_string(q, ' ') AS codes,
        |  ROUND(list_reduce([(e[i] - q[i] * scale) * (e[i] - q[i] * scale)
        |      FOR i IN generate_series(1, len(e))], (a, b) -> a + b) /
        |    CAST(len(e) AS DOUBLE), 10) AS mse,
        |  CASE WHEN list_reduce([e[i] * e[i]
        |        FOR i IN generate_series(1, len(e))], (a, b) -> a + b) > 0
        |      AND list_reduce([(q[i] * scale) * (q[i] * scale)
        |        FOR i IN generate_series(1, len(e))], (a, b) -> a + b) > 0
        |    THEN ROUND(list_reduce([e[i] * (q[i] * scale)
        |        FOR i IN generate_series(1, len(e))], (a, b) -> a + b) /
        |      (SQRT(list_reduce([e[i] * e[i]
        |        FOR i IN generate_series(1, len(e))], (a, b) -> a + b)) *
        |       SQRT(list_reduce([(q[i] * scale) * (q[i] * scale)
        |        FOR i IN generate_series(1, len(e))], (a, b) -> a + b))), 6)
        |    END AS cos_recon
        |FROM c ORDER BY vec_id""".stripMargin)),

    // ---- Gopher-style rule battery (Rae et al. 2021 §A1.1.2): the
    // standard pre-model quality screen. Map-side expression chain,
    // per-rule flags + conjunction; word-count band tuned so the
    // synthetic corpus exercises both outcomes. ----
    QDef("quality_gopher_rules",
      (s, d) => TextAnalysis.gopherRules(documents(s, d),
        minWords = 30, maxWords = 80, minStopwords = 1).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS w,
        |    string_split(text, chr(10)) AS lines, text FROM documents),
        |m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |    ROUND(list_reduce(list_transform(w, x -> length(x)),
        |      (a, b) -> a + b) / GREATEST(len(w), 1.0), 4) AS mean_word_len,
        |    ROUND(((length(text) - length(replace(text, '#', ''))) +
        |      (length(text) - length(replace(text, '...', ''))) / 3 +
        |      (length(text) - length(replace(text, '…', '')))) /
        |      GREATEST(len(w), 1.0), 4) AS symbol_ratio,
        |    ROUND(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) /
        |      GREATEST(len(lines), 1.0), 4) AS bullet_ratio,
        |    ROUND(len(list_filter(lines,
        |        l -> regexp_matches(l, '(\.\.\.|…)$'))) /
        |      GREATEST(len(lines), 1.0), 4) AS ellipsis_ratio,
        |    ROUND(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) /
        |      GREATEST(len(w), 1.0), 4) AS alpha_ratio,
        |    CAST(len(list_intersect(list_distinct(w),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT)
        |      AS n_stopwords
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
        |  ellipsis_ratio, alpha_ratio, n_stopwords,
        |  n_words BETWEEN 30 AND 80 AS r_word_count,
        |  mean_word_len BETWEEN 3 AND 10 AS r_mean_word_len,
        |  symbol_ratio <= 0.1 AS r_symbol_ratio,
        |  bullet_ratio <= 0.9 AS r_bullet_ratio,
        |  ellipsis_ratio <= 0.3 AS r_ellipsis_ratio,
        |  alpha_ratio >= 0.8 AS r_alpha_ratio,
        |  n_stopwords >= 1 AS r_stopwords,
        |  (n_words BETWEEN 30 AND 80) AND (mean_word_len BETWEEN 3 AND 10)
        |    AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
        |    AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
        |    AND n_stopwords >= 1 AS pass
        |FROM m ORDER BY doc_id""".stripMargin)),

    // Per-rule failure attribution: flags from ONE scan, single-row
    // stack unpivot (never a union of per-rule aggregates).
    QDef("quality_gopher_summary",
      (s, d) => TextAnalysis.gopherRuleSummary(
        TextAnalysis.gopherRules(documents(s, d), minWords = 30,
          maxWords = 80, minStopwords = 1)).orderBy("rule"),
      Some("""WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS w,
        |    string_split(text, chr(10)) AS lines, text FROM documents),
        |m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |    ROUND(list_reduce(list_transform(w, x -> length(x)),
        |      (a, b) -> a + b) / GREATEST(len(w), 1.0), 4) AS mean_word_len,
        |    ROUND(((length(text) - length(replace(text, '#', ''))) +
        |      (length(text) - length(replace(text, '...', ''))) / 3 +
        |      (length(text) - length(replace(text, '…', '')))) /
        |      GREATEST(len(w), 1.0), 4) AS symbol_ratio,
        |    ROUND(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) /
        |      GREATEST(len(lines), 1.0), 4) AS bullet_ratio,
        |    ROUND(len(list_filter(lines,
        |        l -> regexp_matches(l, '(\.\.\.|…)$'))) /
        |      GREATEST(len(lines), 1.0), 4) AS ellipsis_ratio,
        |    ROUND(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) /
        |      GREATEST(len(w), 1.0), 4) AS alpha_ratio,
        |    CAST(len(list_intersect(list_distinct(w),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT)
        |      AS n_stopwords
        |  FROM t),
        |f AS (SELECT
        |    n_words BETWEEN 30 AND 80 AS r_word_count,
        |    mean_word_len BETWEEN 3 AND 10 AS r_mean_word_len,
        |    symbol_ratio <= 0.1 AS r_symbol_ratio,
        |    bullet_ratio <= 0.9 AS r_bullet_ratio,
        |    ellipsis_ratio <= 0.3 AS r_ellipsis_ratio,
        |    alpha_ratio >= 0.8 AS r_alpha_ratio,
        |    n_stopwords >= 1 AS r_stopwords
        |  FROM m),
        |s AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN r_word_count THEN 0 ELSE 1 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN r_mean_word_len THEN 0 ELSE 1 END) AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN r_symbol_ratio THEN 0 ELSE 1 END) AS BIGINT) AS c3,
        |    CAST(SUM(CASE WHEN r_bullet_ratio THEN 0 ELSE 1 END) AS BIGINT) AS c4,
        |    CAST(SUM(CASE WHEN r_ellipsis_ratio THEN 0 ELSE 1 END) AS BIGINT) AS c5,
        |    CAST(SUM(CASE WHEN r_alpha_ratio THEN 0 ELSE 1 END) AS BIGINT) AS c6,
        |    CAST(SUM(CASE WHEN r_stopwords THEN 0 ELSE 1 END) AS BIGINT) AS c7
        |  FROM f)
        |SELECT rule, n_fail, ROUND(n_fail / CAST(n AS DOUBLE), 4) AS fail_ratio
        |FROM (SELECT n,
        |    unnest(['r_word_count', 'r_mean_word_len', 'r_symbol_ratio',
        |      'r_bullet_ratio', 'r_ellipsis_ratio', 'r_alpha_ratio',
        |      'r_stopwords']) AS rule,
        |    unnest([c1, c2, c3, c4, c5, c6, c7]) AS n_fail FROM s)
        |ORDER BY rule""".stripMargin)),

    // ---- BM25 top-k retrieval: query set broadcast, corpus scanned
    // once with the explode pruned to query terms BEFORE the posting
    // aggregation, GroupedTopK per query. 6-dp-rounded contributions
    // make the ranking engine-stable; ties break on doc_id. ----
    QDef("retrieval_bm25",
      (s, d) => Retrieval.bm25TopK(documents(s, d),
          Retrieval.queryFrame(s, Seq(
            1 -> Seq("spark", "join", "shuffle"),
            2 -> Seq("fast", "scan", "filter"),
            3 -> Seq("customer", "order", "value"))), k = 10)
        .orderBy("query_id", "doc_id"),
      Some("""WITH q(query_id, term) AS (VALUES
        |    (1,'spark'),(1,'join'),(1,'shuffle'),
        |    (2,'fast'),(2,'scan'),(2,'filter'),
        |    (3,'customer'),(3,'order'),(3,'value')),
        |lens AS (SELECT doc_id,
        |    len(string_split_regex(trim(lower(text)), '\s+')) AS dl
        |  FROM documents),
        |stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl
        |  FROM lens),
        |t AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |p AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
        |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, term),
        |d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
        |c AS (SELECT q.query_id, p.doc_id, ROUND(
        |    ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6) AS contrib
        |  FROM p JOIN d USING (term) JOIN lens USING (doc_id)
        |  CROSS JOIN stats JOIN q USING (term)),
        |s AS (SELECT query_id, doc_id, ROUND(SUM(contrib), 6) AS score,
        |    COUNT(*) AS n_terms_hit FROM c GROUP BY query_id, doc_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS rn FROM s)
        |SELECT query_id, doc_id, score, n_terms_hit FROM r WHERE rn <= 10
        |ORDER BY query_id, doc_id""".stripMargin)),

    // ---- Exact-phrase retrieval (Retrieval.phraseTopK): positional
    // postings intersected by base position (base = pos − offset; a
    // complete occurrence ⟺ hits == phrase length), so an n-token
    // phrase costs ONE shuffle, not n−1 positional self-joins. Phrase
    // vocabulary pruned inside the token array map-side; phrase table
    // and lengths broadcast; GroupedTopK bounded heaps for the top-k.
    // Integer counts — no float determinism surface. ----
    QDef("retrieval_phrase",
      (s, d) => Retrieval.phraseTopK(documents(s, d),
          Retrieval.phraseFrame(s, Seq(
            0 -> Seq("table", "hash"),
            1 -> Seq("customer", "join"),
            2 -> Seq("slow", "hash", "batch"))), k = 10)
        .orderBy("phrase_id", "doc_id"),
      Some("""WITH ph(phrase_id, off, term) AS (VALUES
        |    (0, 0, 'table'), (0, 1, 'hash'),
        |    (1, 0, 'customer'), (1, 1, 'join'),
        |    (2, 0, 'slow'), (2, 1, 'hash'), (2, 2, 'batch')),
        |t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(w) AS term,
        |    unnest(generate_series(0, len(w) - 1)) AS pos FROM t),
        |m AS (SELECT ph.phrase_id, p.doc_id, p.pos - ph.off AS base,
        |    COUNT(*) AS hits FROM p JOIN ph USING (term) GROUP BY 1, 2, 3),
        |pl AS (SELECT phrase_id, COUNT(*) AS plen FROM ph GROUP BY 1),
        |occ AS (SELECT phrase_id, doc_id, CAST(COUNT(*) AS BIGINT)
        |    AS n_occurrences FROM m JOIN pl USING (phrase_id)
        |  WHERE hits = plen GROUP BY 1, 2),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY phrase_id
        |    ORDER BY n_occurrences DESC, doc_id) AS rn FROM occ)
        |SELECT phrase_id, doc_id, n_occurrences FROM r WHERE rn <= 10
        |ORDER BY phrase_id, doc_id""".stripMargin)),

    // ---- Leakage-safe split: hash split, then the n-gram gate pointed
    // at the split's own eval side. Eval grams broadcast; decision is
    // one left join on doc_id. ----
    QDef("split_decontaminated",
      (s, d) => TextAnalysis.splitDecontaminated(documents(s, d))
        .orderBy("doc_id"),
      Some("""WITH sp AS (SELECT doc_id, text,
        |    CASE WHEN CAST(('0x'||substr(md5('split:' ||
        |      CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 100 < 80
        |      THEN 'train' ELSE 'val' END AS split
        |  FROM documents),
        |g AS (SELECT doc_id, split, CASE WHEN len(t) >= 5
        |    THEN list_distinct(
        |      [array_to_string(t[i:i+4], ' ')
        |       FOR i IN generate_series(1, len(t)-4)])
        |    ELSE []::VARCHAR[] END AS grams
        |  FROM (SELECT doc_id, split,
        |    string_split_regex(trim(lower(text)), '\s+') AS t FROM sp)),
        |e AS (SELECT DISTINCT unnest(grams) AS gg FROM g
        |  WHERE split = 'val'),
        |u AS (SELECT doc_id, unnest(grams) AS gg FROM g
        |  WHERE split = 'train'),
        |sh AS (SELECT u.doc_id, COUNT(*) AS n_shared FROM u JOIN e USING (gg)
        |  GROUP BY u.doc_id)
        |SELECT g.doc_id, g.split,
        |  CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
        |  g.split = 'val' OR COALESCE(sh.n_shared, 0) = 0 AS keep
        |FROM g LEFT JOIN sh USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ---- Packed training sequences: pack bins × dictionary-encoded
    // ids, concatenated in doc order (struct-sorted fold — never a bare
    // collect_list). The trainer-input capstone of pack + encode. ----
    QDef("export_sequences",
      (s, d) => {
        val docs = documents(s, d)
        Sampling.exportSequences(
            Sampling.packByBudget(docs, budgetTokens = 512, nShards = 8),
            TextAnalysis.vocabEncode(docs, v = 500))
          .orderBy("shard", "seq_id")
      },
      Some("""WITH t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |      % 8 AS shard
        |  FROM documents),
        |packed AS (SELECT doc_id, shard, n_tokens,
        |    CAST(FLOOR(CAST(SUM(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY doc_id) - n_tokens AS DOUBLE) / 512) AS BIGINT)
        |      AS seq_id
        |  FROM t),
        |toks AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |tok AS (SELECT doc_id, unnest(tk) AS tok,
        |    unnest([i FOR i IN generate_series(1, len(tk))]) AS pos FROM toks),
        |vf AS (SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok),
        |vocab AS (SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY freq DESC,
        |    tok ASC) AS INT) AS tok_id
        |  FROM vf ORDER BY freq DESC, tok ASC LIMIT 500),
        |encid AS (SELECT t.doc_id, t.pos, COALESCE(v.tok_id, 0) AS id
        |  FROM tok t LEFT JOIN vocab v USING (tok)),
        |enc AS (SELECT doc_id,
        |    array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos), ' ')
        |      AS ids_str
        |  FROM encid GROUP BY doc_id)
        |SELECT shard, seq_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  array_to_string(list(ids_str ORDER BY doc_id), ' ') AS ids
        |FROM packed JOIN enc USING (doc_id)
        |GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin)),

    // ---- Perceptual-hash media near-dup: 8×8 thumbnail through the
    // codec (mapPartitions — swap in a real decoder and nothing else
    // moves), 64-bit bit-threshold hash, then the SimHash
    // chunk-pigeonhole hamming join (2 chunks for r=1; the 32-bit chunk
    // keys keep bucket occupancy — hence candidate volume — linear,
    // where the original 16-bit hash went quadratic at sf1).
    // The DECLARED query runs the bucket-capped form (maxBucket = 256,
    // r11): near-identical media clusters make exact pair output grow
    // with cluster² — measured 8.3 s uncapped vs 2.3 s capped at sf10 —
    // so the scale-safe cap is the default a user gets, with the recall
    // bound documented at Multimodal.phashPairs. The oracle REPLAYS the
    // cap (chunk keys + windowed bucket count in SQL), so the declared
    // semantics — not an uncapped idealization — sit inside the
    // hash-match gate; the r9 lesson says never let the oracle model a
    // different plan than the one shipped.
    // The oracle also replays the stub codec's cycle-pad resize
    // arithmetically on the ASCII bytes (HUGEINT bit build, wrapped to
    // BIGINT two's-complement to match the Long). Undecodable media
    // (empty bytes — the stub's pixels() returns None) are DROPPED by
    // perceptualHash, so the oracle mirrors the drop with
    // `length(text) > 0`. ----
    QDef("mm_phash_dedup",
      (s, d) => {
        val media = Multimodal.syntheticMedia(s, documents(s, d))
        Multimodal.phashPairs(
            Multimodal.perceptualHash(media, new Multimodal.StubCodec()),
            maxBucket = Some(256))
          .orderBy("media_a", "media_b")
      },
      Some("""WITH px AS (SELECT doc_id AS media_id,
        |    [ascii(substr(text, ((i - 1) % length(text)) + 1, 1))
        |     FOR i IN generate_series(1, 64)] AS p FROM documents
        |    WHERE length(text) > 0),
        |h0 AS (SELECT media_id, list_reduce(
        |    [CASE WHEN p[i] > list_reduce(p, (a, b) -> a + b) / 64.0
        |       THEN CAST(1 AS HUGEINT) << (i - 1) ELSE CAST(0 AS HUGEINT) END
        |     FOR i IN generate_series(1, 64)], (a, b) -> a + b) AS s FROM px),
        |h AS (SELECT media_id, CAST(CASE WHEN s >= 9223372036854775808
        |    THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS phash FROM h0),
        |k AS (SELECT media_id, phash, ci,
        |    (phash >> (ci * 32)) & 4294967295 AS ck
        |  FROM h CROSS JOIN (SELECT unnest([0, 1]) AS ci)),
        |kc AS (SELECT media_id, phash, ci, ck FROM (
        |    SELECT media_id, phash, ci, ck,
        |      COUNT(*) OVER (PARTITION BY ci, ck) AS bn FROM k)
        |  WHERE bn <= 256)
        |SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM kc a JOIN kc b ON a.ci = b.ci AND a.ck = b.ck
        |  AND a.media_id < b.media_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 1
        |ORDER BY media_a, media_b""".stripMargin)),

    // ---- REAL-decode perceptual hash: text bytes painted into genuine
    // PNG blobs (syntheticPngMedia), decoded back through the JDK
    // ImageIoCodec (real ImageIO.read, integer box-average 16×16 → 8×8,
    // BT.601 luminance — identity on gray), hashed, pigeonhole-joined.
    // The oracle cannot read PNG; it replays the pixel → 2×2 block
    // floor-average → mean-threshold → bit chain from the TEXT, so the
    // query is green only if the PNG encode→decode roundtrip is
    // lossless and the codec arithmetic is exactly as documented — the
    // real decode path sits inside the correctness gate, not just a
    // spec. ----
    QDef("mm_real_phash_dedup",
      (s, d) => {
        val media = Multimodal.syntheticPngMedia(s, documents(s, d))
        Multimodal.phashPairs(
            Multimodal.perceptualHash(media, new Multimodal.ImageIoCodec()),
            maxBucket = Some(256))
          .orderBy("media_a", "media_b")
      },
      Some("""WITH px AS (SELECT doc_id AS media_id,
        |    [ascii(substr(text, ((i - 1) % length(text)) + 1, 1))
        |     FOR i IN generate_series(1, 256)] AS p FROM documents),
        |th AS (SELECT media_id,
        |    [CAST((p[32*((j-1)//8) + 2*((j-1)%8) + 1]
        |         + p[32*((j-1)//8) + 2*((j-1)%8) + 2]
        |         + p[32*((j-1)//8) + 2*((j-1)%8) + 17]
        |         + p[32*((j-1)//8) + 2*((j-1)%8) + 18]) // 4 AS BIGINT)
        |     FOR j IN generate_series(1, 64)] AS t FROM px),
        |h0 AS (SELECT media_id, list_reduce(
        |    [CASE WHEN t[j] > list_reduce(t, (a, b) -> a + b) / 64.0
        |       THEN CAST(1 AS HUGEINT) << (j - 1) ELSE CAST(0 AS HUGEINT) END
        |     FOR j IN generate_series(1, 64)], (a, b) -> a + b) AS s FROM th),
        |h AS (SELECT media_id, CAST(CASE WHEN s >= 9223372036854775808
        |    THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS phash FROM h0),
        |k AS (SELECT media_id, phash, ci,
        |    (phash >> (ci * 32)) & 4294967295 AS ck
        |  FROM h CROSS JOIN (SELECT unnest([0, 1]) AS ci)),
        |kc AS (SELECT media_id, phash, ci, ck FROM (
        |    SELECT media_id, phash, ci, ck,
        |      COUNT(*) OVER (PARTITION BY ci, ck) AS bn FROM k)
        |  WHERE bn <= 256)
        |SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM kc a JOIN kc b ON a.ci = b.ci AND a.ck = b.ck
        |  AND a.media_id < b.media_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 1
        |ORDER BY media_a, media_b""".stripMargin)),

    // ---- REAL-decode audio features (r11 — the audio half of the
    // codec stub closed the same way the PNG one was): text bytes
    // rendered as genuine 16-bit PCM WAV blobs (syntheticWavMedia),
    // decoded back through javax.sound.sampled (real RIFF parse +
    // PCM frame decode), then 8 block-energy features — integer mean
    // of |sample| per block. The oracle cannot read WAV; it replays
    // the sample → block-energy chain from the TEXT, so the query is
    // green only if the WAV encode→decode roundtrip is lossless and
    // the codec arithmetic is exactly as documented. ----
    QDef("mm_real_audio_features",
      (s, d) => {
        val media = Multimodal.syntheticWavMedia(s, documents(s, d))
        Multimodal.extractFeatures(media, new Multimodal.AudioPcmCodec(8))
          .toDF()
          .select(col("media_id"),
            array_join(transform(col("features"),
              x => x.cast("long").cast("string")), " ").as("block_energy"))
          .orderBy("media_id")
      },
      Some("""WITH sm AS (SELECT doc_id AS media_id,
        |    [CASE WHEN length(text) = 0 THEN 0
        |       ELSE abs(ascii(substr(text, ((i - 1) % length(text)) + 1, 1))
        |              - 128) * 256 END
        |     FOR i IN generate_series(1, 256)] AS a FROM documents)
        |SELECT media_id, array_to_string(
        |  [CAST(list_reduce(a[(j - 1) * 32 + 1 : j * 32],
        |     (x, y) -> x + y) // 32 AS BIGINT)
        |   FOR j IN generate_series(1, 8)], ' ') AS block_energy
        |FROM sm ORDER BY media_id""".stripMargin)),

    // ---- REAL-decode audio near-dup: the same WAV blobs hashed
    // through AudioPcmCodec.pixels (64 block energies >> 8 as bytes —
    // an acoustic fingerprint), then the bucket-capped pigeonhole
    // hamming join, cap replayed by the oracle like the image phash
    // queries. Real audio decode sits inside the hash-match gate. ----
    QDef("mm_real_audio_phash_dedup",
      (s, d) => {
        val media = Multimodal.syntheticWavMedia(s, documents(s, d))
        Multimodal.phashPairs(
            Multimodal.perceptualHash(media, new Multimodal.AudioPcmCodec()),
            maxBucket = Some(256))
          .orderBy("media_a", "media_b")
      },
      Some("""WITH sm AS (SELECT doc_id AS media_id,
        |    [CASE WHEN length(text) = 0 THEN 0
        |       ELSE abs(ascii(substr(text, ((i - 1) % length(text)) + 1, 1))
        |              - 128) * 256 END
        |     FOR i IN generate_series(1, 256)] AS a FROM documents),
        |px AS (SELECT media_id,
        |    [(list_reduce(a[(j - 1) * 4 + 1 : j * 4],
        |        (x, y) -> x + y) // 4) // 256
        |     FOR j IN generate_series(1, 64)] AS p FROM sm),
        |h0 AS (SELECT media_id, list_reduce(
        |    [CASE WHEN p[i] > list_reduce(p, (a, b) -> a + b) / 64.0
        |       THEN CAST(1 AS HUGEINT) << (i - 1) ELSE CAST(0 AS HUGEINT) END
        |     FOR i IN generate_series(1, 64)], (a, b) -> a + b) AS s FROM px),
        |h AS (SELECT media_id, CAST(CASE WHEN s >= 9223372036854775808
        |    THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS phash FROM h0),
        |k AS (SELECT media_id, phash, ci,
        |    (phash >> (ci * 32)) & 4294967295 AS ck
        |  FROM h CROSS JOIN (SELECT unnest([0, 1]) AS ci)),
        |kc AS (SELECT media_id, phash, ci, ck FROM (
        |    SELECT media_id, phash, ci, ck,
        |      COUNT(*) OVER (PARTITION BY ci, ck) AS bn FROM k)
        |  WHERE bn <= 256)
        |SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM kc a JOIN kc b ON a.ci = b.ci AND a.ck = b.ck
        |  AND a.media_id < b.media_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 1
        |ORDER BY media_a, media_b""".stripMargin)),

    // Multimodal frame-sampling plumbing (relational half: metadata →
    // ragged frame explosion → stride filter). The codec stub's frame
    // counts are pure arithmetic on the synthetic metadata, so DuckDB
    // replays them exactly; the imperative decode path is spec-pinned
    // (ObsMultimodalSpec) instead.
    QDef("mm_frame_sample",
      (s, d) => {
        val media = Multimodal.syntheticMedia(s, documents(s, d))
        Multimodal.sampleFrames(media, new Multimodal.StubCodec(), everyNth = 2)
          .select(col("media_id"), col("kind"),
            col("frame_idx").cast("long").as("frame_idx"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |    CASE WHEN doc_id % 2 = 0 THEN 1
        |         ELSE GREATEST(doc_id % 6, 1) END AS n
        |  FROM documents)
        |SELECT media_id, kind, CAST(f AS BIGINT) AS frame_idx FROM (
        |  SELECT media_id, kind,
        |    unnest([i FOR i IN generate_series(0, n - 1) IF i % 2 = 0]) AS f
        |  FROM m)
        |ORDER BY media_id, frame_idx""".stripMargin)),

    // ---- REAL multi-frame decode (r12 — the frame-iteration half of
    // the video stub closed via the one multi-frame container the JDK
    // ships a codec for): text bytes painted into genuine ANIMATED GIFs
    // of 1 + (doc_id mod 4) frames (syntheticGifMedia, 256-gray
    // palette), then REAL frame iteration through the JDK GIF reader
    // (ImageReader.getNumImages(true) + read(i) per frame) with each
    // frame's integer mean luminance. The oracle cannot read GIF; it
    // replays the frame → pixel → mean chain from the TEXT, so the
    // query is green only if the GIF sequence encode→decode roundtrip
    // is lossless, the decoded frame COUNT matches the declared
    // arithmetic, and the box-average is exactly as documented — real
    // multi-frame container decode sits inside the hash-match gate.
    // True video bitstreams stay stubbed (JDK ships no codec); this
    // exercises the same frameLumas seam a video codec would plug
    // into. ----
    QDef("mm_real_frame_sample",
      (s, d) => {
        val media = Multimodal.syntheticGifMedia(s, documents(s, d))
        Multimodal.sampleFrameLuma(media, new Multimodal.ImageIoCodec(),
            everyNth = 2)
          .select(col("media_id"),
            col("frame_idx").cast("long").as("frame_idx"),
            col("n_frames").cast("long").as("n_frames"),
            col("luma").cast("long").as("luma"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH m AS (SELECT doc_id AS media_id, text,
        |    1 + doc_id % 4 AS n FROM documents),
        |fr AS (SELECT media_id, text, n,
        |    unnest([f FOR f IN generate_series(0, n - 1) IF f % 2 = 0]) AS f
        |  FROM m)
        |SELECT media_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(n AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN length(text) = 0 THEN 0
        |    ELSE list_reduce(
        |      [ascii(substr(text, ((f * 64 + i - 1) % length(text)) + 1, 1))
        |       FOR i IN generate_series(1, 64)], (a, b) -> a + b) // 64
        |    END AS BIGINT) AS luma
        |FROM fr ORDER BY media_id, frame_idx""".stripMargin)),

    QDef("text_fingerprint",
      (s, d) => documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprintPortable(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(('0x'||substr(md5(
        |  array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ')
        |),1,15)) AS BIGINT) AS fp FROM documents ORDER BY doc_id""".stripMargin)),

    // ================= polla-semantics goldens (literal inputs) =================
    // VALUES oracle: inputs are fixed literals and the expected values are
    // the reference's golden table (tests/test_monetary_parser.py:7-55,
    // mirrored in PollaParsersSpec) — scale-independent.
    QDef("polla_parse_clp",
      (s, _) => {
        PollaFunctions.register(s)
        import s.implicits._
        Seq("690", "$ 690", "4.300", "4,75", "1.234,56", "4300", "$ 4.300",
          "0,5", "4.300 MM", "4,3 M", "1.000.000 Mil", "7500", "99.999",
          "0,1", "1.234.567", "", " ", "$", "abc", "1.2.3.4")
          .toDF("raw")
          .selectExpr("raw", "parse_clp(raw) AS clp", "parse_clp_err(raw) AS err")
          .orderBy("raw")
      },
      Some("""SELECT raw, clp, err FROM (VALUES
        |  ('690', CAST(690000000 AS BIGINT), CAST(NULL AS VARCHAR)),
        |  ('$ 690', 690000000, NULL),
        |  ('4.300', 4300000000, NULL),
        |  ('4,75', 4750000, NULL),
        |  ('1.234,56', 1234560000, NULL),
        |  ('4300', 4300000000, NULL),
        |  ('$ 4.300', 4300000000, NULL),
        |  ('0,5', 500000, NULL),
        |  ('4.300 MM', 4300000000, NULL),
        |  ('4,3 M', 4300000, NULL),
        |  ('1.000.000 Mil', 1000000000, NULL),
        |  ('7500', 7500000000, NULL),
        |  ('99.999', 99999000000, NULL),
        |  ('0,1', 100000, NULL),
        |  ('1.234.567', 1234567000000, NULL),
        |  ('', CAST(NULL AS BIGINT), 'empty monetary value'),
        |  (' ', NULL, 'empty monetary value'),
        |  ('$', NULL, 'unable to parse monetary value: $'),
        |  ('abc', NULL, 'unable to parse monetary value: abc'),
        |  ('1.2.3.4', NULL, 'invalid multiple dots: 1.2.3.4')
        |) AS t(raw, clp, err) ORDER BY raw""".stripMargin)),

    // VALUES oracle pinned from the reference's date/sorteo semantics
    // (sources/pozos.py:161-224; PollaParsersSpec shapes).
    QDef("polla_parse_dates",
      (s, _) => {
        PollaFunctions.register(s)
        import s.implicits._
        Seq("16 de septiembre de 2025", "Próximo Sorteo 27 del abril",
          "abril 27, 2026", "Fecha: 1 de enero del 2030", "sin fecha",
          "99 de enero de 2025", "Sorteo N° 5417 - 26 de abril de 2026")
          .toDF("raw")
          .selectExpr("raw", "parse_spanish_date(raw) AS fecha",
            "extract_sorteo(raw) AS sorteo")
          .orderBy("raw")
      },
      Some("""SELECT raw, fecha, sorteo FROM (VALUES
        |  ('16 de septiembre de 2025', '2025-09-16', CAST(NULL AS BIGINT)),
        |  ('Próximo Sorteo 27 del abril', CAST(NULL AS VARCHAR), NULL),
        |  ('abril 27, 2026', '2026-04-27', NULL),
        |  ('Fecha: 1 de enero del 2030', '2030-01-01', NULL),
        |  ('sin fecha', NULL, NULL),
        |  ('99 de enero de 2025', NULL, NULL),
        |  ('Sorteo N° 5417 - 26 de abril de 2026', '2026-04-26', 5417)
        |) AS t(raw, fecha, sorteo) ORDER BY raw""".stripMargin)),

    // Arrays are joined to strings: the driver's row-sort can't factorize
    // ndarray cells (r1 crash). Inputs are fixed literals (SourceStubs),
    // so a VALUES oracle pins the full consensus semantics exactly.
    QDef("polla_consensus",
      (s, _) => Consensus.merge(SourceStubs.payloads(s))
        .select(col("categoria"), col("valor"),
          concat_ws(",", col("winner_sources")).as("winner_sources"),
          col("n_candidates"), col("max_deviation"),
          concat_ws(",", col("missing_sources")).as("missing_sources"),
          col("has_mismatch"))
        .orderBy("categoria"),
      Some("""SELECT * FROM (VALUES
        |  ('Loto Clásico', CAST(1000 AS BIGINT), 'openloto,polla', CAST(2 AS BIGINT),
        |     CAST(0.2 AS DOUBLE), '', true),
        |  ('Recargado', CAST(700 AS BIGINT), 'polla,tercera', CAST(2 AS BIGINT),
        |     CAST(0.2857 AS DOUBLE), '', true),
        |  ('Revancha', CAST(300 AS BIGINT), 'openloto', CAST(1 AS BIGINT),
        |     CAST(0.0 AS DOUBLE), 'polla,tercera', false)
        |) AS t(categoria, valor, winner_sources, n_candidates,
        |       max_deviation, missing_sources, has_mismatch)
        |ORDER BY categoria""".stripMargin)),

    QDef("polla_decision_matrix",
      (s, _) => {
        import s.implicits._
        val cases = Seq(
          (false, 0.0, 0.0, false), (true, 0.0, 0.0, false),
          (true, 0.0, 0.0, true), (false, 0.3, 0.0, false),
          (false, 0.0, 0.2, false), (false, 0.25, 0.10, false))
          .toDF("unchanged", "mismatch_ratio", "max_deviation", "force")
        StatePipeline.decideCols(cases.filter(!col("force")))
          .unionByName(StatePipeline.decideCols(cases.filter(col("force")),
            forcePublish = true))
          .orderBy("unchanged", "mismatch_ratio", "max_deviation", "force")
      },
      Some("""WITH cases(unchanged, mismatch_ratio, max_deviation, force) AS (VALUES
        |  (false, 0.0, 0.0, false), (true, 0.0, 0.0, false),
        |  (true, 0.0, 0.0, true), (false, 0.3, 0.0, false),
        |  (false, 0.0, 0.2, false), (false, 0.25, 0.10, false))
        |SELECT unchanged, mismatch_ratio, max_deviation, force,
        |  CASE WHEN unchanged AND force THEN 'publish_forced'
        |       WHEN unchanged THEN 'skip'
        |       WHEN mismatch_ratio > 0.25 OR max_deviation > 0.10 THEN 'quarantine'
        |       ELSE 'publish' END AS decision_status,
        |  CASE WHEN unchanged AND force THEN true
        |       WHEN unchanged THEN false
        |       WHEN mismatch_ratio > 0.25 OR max_deviation > 0.10 THEN false
        |       ELSE true END AS publish
        |FROM cases
        |ORDER BY unchanged, mismatch_ratio, max_deviation, force""".stripMargin))
  )

  /** Flagship query: snowflake revenue rollup (exercises scan→broadcast
    * join→shuffle agg→sort end-to-end). */
  def flagship(spark: SparkSession, dir: String): DataFrame =
    all.find(_.name == "q19_snowflake_revenue").get.fn(spark, dir)
}

/** Literal stub payloads mirroring the reference's consensus test fixtures
  * (`tests/test_consensus.py:100-104`, `tests/test_pipeline.py:15-32`). */
object SourceStubs {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  val schema: StructType = StructType(Seq(
    StructField("source_name", StringType),
    StructField("priority", IntegerType),
    StructField("fuente", StringType),
    StructField("sha256", StringType),
    StructField("estimado", BooleanType),
    StructField("montos", MapType(StringType, LongType)),
    StructField("sorteo", LongType),
    StructField("fecha", StringType)))

  def payloads(s: SparkSession): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(
        Row("openloto", 0, "https://www.openloto.cl/pozo-del-loto.html", "aa11", true,
          Map("Loto Clásico" -> 1000L, "Recargado" -> 500L, "Revancha" -> 300L,
            "Total estimado" -> 1800L), 5417L, "2026-04-26"),
        Row("polla", 1, "https://www.polla.cl/es/", "bb22", true,
          Map("Loto Clásico" -> 1000L, "Recargado" -> 700L), 5417L, "2026-04-26"),
        Row("tercera", 2, "https://example.cl/", "cc33", true,
          Map("Loto Clásico" -> 1200L, "Recargado" -> 700L), 5417L, "2026-04-26")),
      schema)
}
