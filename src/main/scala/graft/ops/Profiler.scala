package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table profiling — the health/quality sweep (SURVEY §2.12 Q24 class)
  * generalized to per-column statistics: row count, null count, distinct
  * count. One aggregate job per profiled table; every stat is
  * partial-aggregable, so the profile of a 100 TB table is a single scan.
  */
object Profiler {

  /** One row per column: (column, n_rows, n_nulls, n_distinct), EXACT,
    * all columns profiled in ONE scan.
    *
    * Stack-then-count rather than N `countDistinct`s in one aggregate:
    * the countDistinct form multiplies every row ×2N through an Expand
    * node before the partial aggregate ever sees it. Here the columns
    * stack to (column, value-as-string) pairs map-side (×N, not ×2N, and
    * through a plain generator), collapse to per-(column, value) counts
    * with codegen'd partial aggregation — the shuffle carries distinct
    * values — and a second tiny aggregate reads rows/nulls/distincts off
    * the counts. Distinctness is judged on the string image, which is
    * injective for atomic types once negative zero is normalized (the
    * `+ 0.0` below folds float/double -0.0 into 0.0, matching what
    * `countDistinct` would report). Still O(distinct values) through the
    * shuffle — [[profileApprox]] stays the unbounded-cardinality path. */
  def profileSingleScan(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    // TYPED stack slots (r18): values land in a (vl long, vd double,
    // vs string) triple — exactly one slot non-null per non-null value —
    // instead of the old single CAST(v AS STRING) image. The string
    // image was injective but priced every long/double/date through the
    // cast formatter and every shuffle/group compare through string
    // bytes; the typed slots keep distinctness judged on the native
    // binary value (longs for integrals/dates/timestamps/booleans,
    // doubles for floats with the same -0.0 fold, strings only for what
    // is genuinely a string). Injectivity per column is by slot: a
    // column's values all land in ONE slot, so (vl, vd, vs) collides
    // exactly when the typed values are equal — what countDistinct
    // reports.
    val stackArgs = df.schema.fields.map { f =>
      val label = "'" + f.name.replace("'", "''") + "'"
      val ident = "`" + f.name.replace("`", "``") + "`"
      val (vl, vd, vs) = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | BooleanType =>
          (s"CAST($ident AS BIGINT)", "CAST(NULL AS DOUBLE)",
            "CAST(NULL AS STRING)")
        // date/timestamp ride the long slot via their exact integer
        // encodings (ANSI forbids a direct cast; CAST(ts AS BIGINT)
        // would truncate to seconds — not injective)
        case DateType =>
          (s"CAST(unix_date($ident) AS BIGINT)", "CAST(NULL AS DOUBLE)",
            "CAST(NULL AS STRING)")
        case TimestampType =>
          (s"unix_micros($ident)", "CAST(NULL AS DOUBLE)",
            "CAST(NULL AS STRING)")
        case FloatType | DoubleType =>
          // IEEE: -0.0 + 0.0 = +0.0 (NaN/null pass through unchanged)
          ("CAST(NULL AS BIGINT)", s"(CAST($ident AS DOUBLE) + 0.0)",
            "CAST(NULL AS STRING)")
        case _ =>
          ("CAST(NULL AS BIGINT)", "CAST(NULL AS DOUBLE)",
            s"CAST($ident AS STRING)")
      }
      s"$label, $vl, $vd, $vs"
    }.mkString(", ")
    // keyed Spread: see quantileProfile — the stack × partial-agg map
    // side must not serialize in one task on a narrow scan; no-op at
    // scale. Names go through the same backtick-escaping as stackArgs (a
    // plain col() PARSES backticks — a quoted name would throw).
    Spread.wide(df, Some(hash(df.columns.map(c =>
      col("`" + c.replace("`", "``") + "`")): _*)))
      .selectExpr(
        s"stack(${df.columns.length}, $stackArgs) AS (column, vl, vd, vs)")
      .groupBy("column", "vl", "vd", "vs").agg(count(lit(1)).as("cnt"))
      .groupBy("column").agg(
        sum("cnt").as("n_rows"),
        coalesce(sum(when(col("vl").isNull && col("vd").isNull &&
          col("vs").isNull, col("cnt"))), lit(0L)).as("n_nulls"),
        count_if(col("vl").isNotNull || col("vd").isNotNull ||
          col("vs").isNotNull).as("n_distinct"))
  }

  /** Approximate single-scan profile — THE 100 TB path. HLL++ sketches
    * (`approx_count_distinct`, default rsd 0.05) replace exact distincts:
    * one pass, NO Expand — the sketches are plain partial-aggregable
    * buffers, so the whole profile of an arbitrarily wide table is a
    * single map-side-combined scan. Estimates are within ~15% of exact at
    * 3σ (ProfilerSpec pins this against [[profileSingleScan]]). */
  def profileApprox(df: DataFrame): DataFrame = {
    val aggs = df.columns.toSeq.flatMap { c =>
      Seq(count_if(col(c).isNull).as(s"${c}__nulls"),
        approx_count_distinct(col(c)).as(s"${c}__distinct"))
    }
    val totals = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    // pivot the 1-row aggregate into one row per column with stack() —
    // no collect/driver round-trip, the whole profile is ONE job
    val stackArgs = df.columns
      .map(c => s"'$c', `${c}__nulls`, `${c}__distinct`").mkString(", ")
    totals.selectExpr(
        s"stack(${df.columns.length}, $stackArgs) AS (column, n_nulls, approx_distinct)",
        "__rows AS n_rows")
      .select(col("column"), col("n_rows"), col("n_nulls"), col("approx_distinct"))
  }

  /** EXACT quantile profile: min, interpolated percentiles (same
    * definition as SQL `quantile_cont`: rank (n−1)·p, linear between
    * neighbors), max — one row per column, rounded 4.
    *
    * Distributed two-phase CDF formulation (the [[Drift.ks]] /
    * [[Ids.stableAssign]] pattern) rather than a `percentile` aggregate
    * or a per-column window: stack the columns map-side, reduce to
    * per-(column, value) counts (codegen'd partial aggregation — the
    * shuffle carries O(distinct values), not rows), range-exchange on
    * (column, value), ship one count per (partition, column) to the
    * driver for exclusive prefix offsets, then a map-only second pass
    * emits ONLY the ≤ 2|ps|+2 order statistics each column needs
    * (bracketing ranks for each percentile, plus ranks 1 and n for
    * min/max). Interpolation and rounding happen on those few collected
    * scalars. The r17 form computed the same CDF with
    * `sum().over(Window.partitionBy("column"))` — a partition-per-key
    * sort whose parallelism is capped at the COLUMN COUNT, so one task
    * single-threaded the dominant column's distinct values (3.2 s of
    * the 3.6 s wall at sf0.1; the r17 verdict's top sf0.1-gate item).
    * Spark's own `percentile` buffers a value→count map per group in an
    * ObjectHashAggregate — no codegen, every input row an object-map
    * update (measured 2.3× slower still). Both forms are O(distinct
    * values) in shuffle volume; for unbounded-cardinality columns at
    * 100 TB use [[quantileProfileApprox]]. */
  def quantileProfile(df: DataFrame, cols: Seq[String],
      ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
      rowsHint: Long = Long.MaxValue): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ")
    // Spread KEYED on the profiled values: the stack x cast x partial-agg
    // map side must not serialize in one task on a narrow scan (the
    // local single-row-group corpus files). A hash key avoids round-robin
    // repartition's sort-before-exchange (A/B'd: round-robin COST 0.5 s
    // here). No-op at scale - the repartition only fires when the scan
    // arrives narrower than half the slots.
    if (smallStacked(rowsHint, cols.length)) {
      // small-corpus path (see [[SmallStackedGate]]): ONE job — scan,
      // project the double casts, collect, and sort each column on the
      // driver; ranks interpolate through the SAME [[assemble]] code as
      // the two-phase path. Probed at sf0.1 (r18, OPTIMIZATION_r18.md
      // "What changed", item 3): the two-phase
      // CDF and a counts-collect variant both floor at ~1.8 s (the
      // (column, v) counts aggregation itself is the wall on 2.4 M
      // stacked values) and a percentile()-aggregate at ~2.3 s; raw
      // collect + driver sort of 4 × 600 k doubles ≈ 0.3 s of driver
      // work on top of the bare scan.
      val rows = df.selectExpr(
        cols.map(c => s"CAST(`${c.replace("`", "``")}` AS DOUBLE)"): _*).collect()
      val nByCol = scala.collection.mutable.Map.empty[String, Long]
      val atRank = scala.collection.mutable.Map.empty[(String, Long), Double]
      cols.zipWithIndex.foreach { case (c, i) =>
        val vals = new Array[Double](rows.length)
        var n = 0
        rows.foreach { r =>
          if (!r.isNullAt(i)) { vals(n) = r.getDouble(i); n += 1 }
        }
        if (n > 0) {
          // Arrays.sort(double[]) is IEEE-total-order (-0.0 < 0.0 < NaN
          // last) — the same order Spark's range sort on v gives the
          // two-phase path
          java.util.Arrays.sort(vals, 0, n)
          nByCol(c) = n.toLong
          neededRanks(Map(c -> n.toLong), ps)(c)
            .foreach(k => atRank((c, k)) = vals((k - 1).toInt))
        }
      }
      return assemble(df.sparkSession, nByCol, atRank.toMap, ps, dp = 4)
    }
    val stacked = Spread.wide(df.select(cols.map(col): _*),
        Some(hash(cols.map(col): _*)))
      .selectExpr(s"stack(${cols.length}, $stackArgs) AS (column, v)")
      .filter(col("v").isNotNull)
    quantilesByKey(stacked, ps, dp = 4)
  }

  /** Small-corpus gate for [[quantilesByKey]]: below this many STACKED
    * values (source rows × profiled columns, from a parquet-footer count
    * — an upper bound on distinct (column, v) pairs) the per-(column, v)
    * counts collect to the driver and the order statistics extract there
    * with the IDENTICAL interpolation/rounding code — 2 jobs instead of
    * the two-phase path's 6 (counts agg + RangePartitioner sampling +
    * offsets collect + hits collect + 2 persists), worth ~1 s of fixed
    * job/exchange latency per query at sf0.1. The collect is bounded by
    // the gate (≤ 4M (string, double, long) rows ≈ low hundreds of MB
    // transient on an 8 g driver); above it the two-phase range-
    // partitioned CDF is the only shape that scales. The gate input is a
    // footer count compared with integers, so the choice is deterministic
    // per corpus — and either branch returns bit-identical values (same
    // counts, same ranks, same driver-side interpolation), unlike a
    // percentile()-aggregate fallback whose IEEE interpolation order
    // differs in the last ulp. */
  val SmallStackedGate: Long = 4000000L

  /** Gate decision for [[quantileProfile]]'s small-corpus branch, as
    * division — `rowsHint * nCols` overflows Long at the default
    * rowsHint = Long.MaxValue (MaxValue*2 wraps to -2), which silently
    * routed an unknown/huge input down the driver-collect path: an
    * unbounded collect() on any default-hint multi-column call (r18
    * ADVICE, high). The default hint must always take the two-phase
    * branch; ProfilerGateSpec pins 2- and 4-column default-hint calls. */
  private[graft] def smallStacked(rowsHint: Long, nCols: Int): Boolean =
    nCols > 0 && rowsHint <= SmallStackedGate / nCols

  /** The two-phase core of [[quantileProfile]], generalized over any
    * (column: string, v: double) frame - the "column" key may just as
    * well be a GROUP key (q27 uses event_type), and `dp` is the output
    * rounding scale. Null v rows must already be filtered. */
  def quantilesByKey(stacked: DataFrame, ps: Seq[Double], dp: Int,
      smallHint: Boolean = false): DataFrame = {
    val spark = stacked.sparkSession
    if (smallHint) {
      // small-corpus path (see [[SmallStackedGate]]): one distributed
      // partial-agg'd counts pass, then the same rank extraction the
      // two-phase path runs — on the driver, over the collected counts
      val rows = stacked.groupBy("column", "v").agg(count(lit(1)).as("cnt"))
        .collect()
      val byCol = rows.groupBy(_.getString(0))
      val nByCol = byCol.map { case (c, rs) => c -> rs.map(_.getLong(2)).sum }
      val need = neededRanks(nByCol, ps)
      val atRank = scala.collection.mutable.Map.empty[(String, Long), Double]
      byCol.foreach { case (c, rs) =>
        val sorted = rs.sortBy(_.getDouble(1))
        val ranks = need(c)
        var cum = 0L
        var ri = 0
        var i = 0
        while (i < sorted.length && ri < ranks.length) {
          val lo = cum
          cum += sorted(i).getLong(2)
          while (ri < ranks.length && ranks(ri) <= cum) {
            if (ranks(ri) > lo) atRank((c, ranks(ri))) = sorted(i).getDouble(1)
            ri += 1
          }
          i += 1
        }
      }
      return assemble(spark, nByCol, atRank.toMap, ps, dp)
    }
    // persisted: RangePartitioner's boundary-sampling job would
    // otherwise recompute the whole scan + aggregation a second time
    // (measured ~0.9 s of q52's wall at sf0.1)
    val counts = stacked.groupBy("column", "v").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one pinned range-partitioned materialization: the offsets pass and
    // the extraction pass must see identical partitions (Drift.ks's
    // persist-with-handle contract, released in finally)
    val ranged = counts.repartitionByRange(col("column"), col("v"))
      .sortWithinPartitions("column", "v").rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partials = ranged.mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach(r => m.updateWith(r.getString(0))(
          o => Some(o.getOrElse(0L) + r.getLong(2))))
        m.iterator.map { case (c, n) => (pid, c, n) }.toArray.iterator
      }.collect().sortBy(_._1)
      val nByCol = partials.groupBy(_._2).map { case (c, a) =>
        c -> a.map(_._3).sum
      }
      // exclusive per-(partition, column) prefix offsets — range
      // partitioning keeps each column's values in partition order
      val offsets = {
        val running = scala.collection.mutable.Map.empty[String, Long]
        partials.map { case (pid, c, cnt) =>
          val off = running.getOrElse(c, 0L)
          running(c) = off + cnt
          (pid, c) -> off
        }.toMap
      }
      val need = neededRanks(nByCol, ps)
      // map-only extraction: value at rank k is the smallest v whose
      // cumulative count reaches k ⇔ k lies in (cum_before, cum]
      val hits = ranged.mapPartitionsWithIndex { (pid, it) =>
        var curCol: String = null
        var cum = 0L
        var ranks: Array[Long] = Array.empty
        var ri = 0
        it.flatMap { r =>
          val c = r.getString(0)
          if (c != curCol) {
            curCol = c
            cum = offsets((pid, c))
            ranks = need(c)
            ri = java.util.Arrays.binarySearch(ranks, cum + 1) match {
              case i if i >= 0 => i
              case i => -i - 1
            }
          }
          val lo = cum
          cum += r.getLong(2)
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
          while (ri < ranks.length && ranks(ri) <= cum) {
            if (ranks(ri) > lo) out += ((c, ranks(ri), r.getDouble(1)))
            ri += 1
          }
          out
        }
      }.collect()
      val atRank: Map[(String, Long), Double] =
        hits.map { case (c, k, v) => (c, k) -> v }.toMap
      assemble(spark, nByCol, atRank, ps, dp)
    } finally {
      ranged.unpersist(blocking = false)
      counts.unpersist(blocking = false)
    }
  }

  /** rank r = (n−1)p sits between the values at 1-based positions
    * ⌊r⌋+1 and ⌈r⌉+1 of the sorted multiset; rank 1 = min, n = max.
    * Shared by both [[quantilesByKey]] branches so the extracted order
    * statistics are the same set either way. */
  private def neededRanks(nByCol: scala.collection.Map[String, Long],
      ps: Seq[Double]): Map[String, Array[Long]] =
    nByCol.iterator.map { case (c, n) =>
      val rs = ps.flatMap { p =>
        val r = (n - 1) * p
        Seq(math.floor(r).toLong + 1, math.ceil(r).toLong + 1)
      }
      c -> (rs.toSet + 1L + n).toArray.sorted
    }.toMap

  /** Interpolate + round + assemble the output frame from the extracted
    * order statistics — ONE implementation for both branches, so the
    * small-corpus collect path is bit-identical to the two-phase path
    * by construction. */
  private def assemble(spark: org.apache.spark.sql.SparkSession,
      nByCol: scala.collection.Map[String, Long],
      atRank: Map[(String, Long), Double],
      ps: Seq[Double], dp: Int): DataFrame = {
    // Spark `round(_, dp)` on doubles: BigDecimal HALF_UP, NaN/Inf pass
    // through — replicated here so the driver-assembled result is
    // bit-identical to the r17 expression form
    def rnd(v: Double): Double =
      if (v.isNaN || v.isInfinite) v
      else java.math.BigDecimal.valueOf(v)
        .setScale(dp, java.math.RoundingMode.HALF_UP).doubleValue()
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("column",
        org.apache.spark.sql.types.StringType, nullable = false) +:
      ("minv" +: ps.map(p => s"p${math.round(p * 100)}") :+ "maxv").map(f =>
        org.apache.spark.sql.types.StructField(f,
          org.apache.spark.sql.types.DoubleType, nullable = false)))
    val rows = nByCol.keys.toSeq.sorted.map { c =>
      val n = nByCol(c)
      val qs = ps.map { p =>
        val r = (n - 1) * p
        val lo = atRank((c, math.floor(r).toLong + 1))
        val hi = atRank((c, math.ceil(r).toLong + 1))
        rnd(lo + (r - math.floor(r)) * (hi - lo))
      }
      org.apache.spark.sql.Row.fromSeq(
        c +: (rnd(atRank((c, 1L))) +: qs :+ rnd(atRank((c, n)))))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Approximate quantile profile via the BUILT-IN `approx_percentile`
    * (Greenwald–Khanna summaries, bounded memory per column regardless
    * of cardinality) in the same single-scan stack shape. Estimates are
    * engine-specific; pin sanity (ordering, min/max bracketing) rather
    * than values — the q38b pattern.
    *
    * Known cost: GK updates run through an interpreted
    * ObjectHashAggregate (~1 s at sf0.1 where the exact CDF costs
    * 0.68 s; accuracy does not move it — the per-row object update is
    * the cost). [[quantileProfileLogHist]] is the engineered
    * alternative: same bounded-memory contract, plain codegen
    * HashAggregate, ~2.5× faster, and deterministic enough to
    * value-check. Prefer it unless GK's rank-error guarantee
    * specifically matters. */
  def quantileProfileApprox(df: DataFrame, cols: Seq[String],
      ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
      accuracy: Int = 1000,
      sampleKeys: Seq[String] = Nil, sampleOneIn: Int = 1): DataFrame = {
    // Optional deterministic hash-sample for the GK summaries only:
    // the interpreted per-row ObjectHashAggregate update is the entire
    // cost of this operator (375 ns/row measured — accuracy barely moves
    // it), and a quantile ESTIMATE does not need every row. keep-rows are
    // chosen by hash(sampleKeys) — reproducible across runs/engines —
    // while min/max stay EXACT over all rows in the same single pass
    // (nulls skip the GK update cheaply). 1-in-10 cut q52b 1.1 s → 0.2 s
    // at sf0.1 with the sanity contract (p-ordering, min/max bracketing)
    // intact. Default 1 = no sampling.
    // the keep-predicate is evaluated ONCE per row in a codegen projection
    // (an aggregate-input expression would re-hash per aggregate, interpreted)
    val keep = if (sampleOneIn > 1 && sampleKeys.nonEmpty)
      pmod(hash(sampleKeys.map(col): _*), lit(sampleOneIn)) === 0 else lit(true)
    val proj = df.select(cols.flatMap(c => Seq(
      col(c).cast("double").as(c),
      when(keep, col(c).cast("double")).as(s"${c}__s"))): _*)
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}__min"),
        approx_percentile(col(s"${c}__s"), typedlit(ps), lit(accuracy))
          .as(s"${c}__q"),
        max(col(c)).as(s"${c}__max"))
    }
    val one = proj.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', `${c}__min`, `${c}__q`, `${c}__max`")
      .mkString(", ")
    one.selectExpr(s"stack(${cols.length}, $stackArgs) AS (column, minv, q, maxv)")
      .select(Seq(col("column"), round(col("minv"), 4).as("minv")) ++
        ps.zipWithIndex.map { case (p, i) =>
          round(element_at(col("q"), i + 1), 4)
            .as(s"p${math.round(p * 100)}")
        } ++ Seq(round(col("maxv"), 4).as("maxv")): _*)
  }

  /** Log-histogram quantile profile — the CODEGEN approximate path.
    *
    * `approx_percentile` (GK) is the idiomatic bounded-memory answer, but
    * its per-row updates run through an interpreted ObjectHashAggregate —
    * measured ~0.7 s of pure aggregate time on 600 k rows × 4 columns
    * where the whole exact-CDF query costs 0.68 s end to end. This
    * variant keeps state bounded a different way: each value drops into a
    * multiplicative-width bucket (HdrHistogram's trick — bucket index
    * `floor(ln|v| · s)`, `s = 1/ln(1+relErr)`), so the aggregate is a
    * plain codegen'd HashAggregate on (column, bucket) — O(buckets) state
    * per column regardless of cardinality, buckets ≈ `ln(vmax/vmin)/
    * ln(1+relErr)` (≈ 2.3 k for a 1e10 dynamic range at 1%) — and the
    * percentile reads off the same distributed-CDF window as
    * [[quantileProfile]], now over O(buckets) rows.
    *
    * The reported percentile is the MINIMUM actual value in the bucket
    * the rank lands in: a true data value, a lower bound within
    * `(1+relErr)` of the exact percentile, and — unlike GK, whose result
    * depends on merge order and engine — fully deterministic, so the
    * whole profile is value-comparable across engines (q52c hash-matches
    * a DuckDB transliteration; GK's q52b can only be sanity-checked).
    * `ln` is quantized to 9 dp before `floor` so last-ulp libm
    * differences between engines cannot flip a boundary bucket.
    * Exact min/max ride the same scan. Zero gets its own bucket;
    * negative values mirror to negative bucket ids (ordering by the
    * bucket's own min value keeps the CDF correct for any sign mix). */
  /** The multiplicative-width (HdrHistogram-style) bucket id of a double:
    * `sign(v) · (⌊ln|v|·s⌋ + off)`, `s = 1/ln(1+relErr)` — values within
    * a bucket differ by at most (1+relErr). `ln` is quantized to 9 dp
    * before `floor` so last-ulp libm differences between engines cannot
    * flip a boundary bucket; |ln(double)| ≤ ~745, so the `off` shift
    * keeps the magnitude part strictly positive and the sign multiplier
    * collision-free: negatives < 0 < zero-bucket < positives. Shared by
    * the quantile profile and [[Drift.psiLogHist]]. */
  def logBucket(v: Column, relErr: Double): Column = {
    val s = 1.0 / math.log1p(relErr)
    val off = math.ceil(745.0 * s).toLong + 2L
    when(v === 0d, lit(0L)).otherwise(
      (signum(v) * (floor(round(log(abs(v)) * lit(s), 9)) + lit(off)))
        .cast("long"))
  }

  def quantileProfileLogHist(df: DataFrame, cols: Seq[String],
      ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
      relErr: Double = 0.01): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ")
    // keyed Spread: see quantileProfile - the stack x ln() map side must
    // not serialize in one task on a narrow scan; no-op at scale
    val stacked = Spread.wide(df.select(cols.map(col): _*),
        Some(hash(cols.map(col): _*)))
      .selectExpr(s"stack(${cols.length}, $stackArgs) AS (column, v)")
      .filter(col("v").isNotNull)
    val bucket = logBucket(col("v"), relErr)
    val counts = stacked.withColumn("b", bucket)
      .groupBy("column", "b")
      .agg(count(lit(1)).as("cnt"), min("v").as("bmin"), max("v").as("bmax"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("column").orderBy("bmin")
    val cdf = counts
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("n", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy("column")))
    def atRank(k: Column) = min(when(col("cum") >= k, col("bmin")))
    val allAggs = Seq(min("bmin").as("minv"), max(col("bmax")).as("maxv")) ++
      ps.zipWithIndex.map { case (p, i) =>
        atRank(floor((col("n") - 1) * lit(p)) + 1).as(s"__q$i")
      }
    cdf.groupBy("column").agg(allAggs.head, allAggs.tail: _*)
      .select(Seq(col("column"), round(col("minv"), 4).as("minv")) ++
        ps.zipWithIndex.map { case (p, i) =>
          round(col(s"__q$i"), 4).as(s"p${math.round(p * 100)}")
        } ++ Seq(round(col("maxv"), 4).as("maxv")): _*)
  }

  /** Per-source corpus datasheet — the "datasheet for datasets" rollup a
    * training-data release ships with: document/token volume, a
    * caller-supplied quality-pass rate, corpus-wide exact-duplicate rate,
    * and language purity, one row per source.
    *
    * Scale shape: every per-doc feature (md5, token count, the `pass`
    * predicate) is computed map-side and the text column is DROPPED
    * before anything shuffles — the duplicate flag's hash window and the
    * per-source aggregation move ~50 bytes per document. Ratios are
    * exact-integer sums divided once (never an avg over doubles, whose
    * partial-sum order would wobble the last bits). */
  def corpusDatasheet(documents: DataFrame, pass: Column,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NO Spread (r18 A/B): md5 + WsSplit per doc is cheap enough that the
    // extra exchange read WORSE in full-suite passes (1.00 → 1.05-1.07 s)
    // even though an isolated ONLY-mode bench showed 0.51 s — the
    // full-pass number is the one the driver measures
    val perDoc = documents.select(col("source"), col("lang"),
      md5(col(textCol)).as("__h"),
      graft.ops.TextAnalysis.tokenCount(col(textCol)).cast("long").as("__tok"),
      length(col(textCol)).cast("long").as("__chars"),
      pass.as("__pass"))
    val flagged = perDoc.withColumn("__dup",
      count(lit(1)).over(Window.partitionBy("__h")) > 1)
    def ratio(c: Column): Column =
      round(sum(when(c, 1L).otherwise(0L)) /
        count(lit(1)).cast("double"), 4)
    flagged.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("__tok").as("n_tokens"),
      round(sum("__chars") / count(lit(1)).cast("double"), 2).as("avg_chars"),
      ratio(col("__pass")).as("pass_ratio"),
      ratio(col("__dup")).as("dup_ratio"),
      ratio(col("lang") === "en").as("en_ratio"))
  }
}
