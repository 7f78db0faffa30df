package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops.{Consensus, TextAnalysis}
import graft.sources.{DistributedFetch, FixtureTransport}

/** Scale operators: consensus winners, distributed fetch, TF-IDF. */
class ScaleOpsSpec extends SparkSpec {

  /** Reference twin of [[graft.ops.Profiler.profileSingleScan]]: one
    * aggregate per column, unioned. */
  private def profilePerColumn(df: DataFrame): DataFrame =
    df.columns.toSeq.map { c =>
      df.agg(
        count(lit(1)).as("n_rows"),
        count_if(col(c).isNull).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"), col("n_distinct"))
    }.reduce(_ unionAll _)

  test("Aggregator consensus winner matches the window formulation") {
    // Loto: 2-1 majority; Recargado: a 1-1 tie the lower source priority
    // breaks; Revancha: one vote. The higher-order-function merge and the
    // window formulation (the test-tree oracle) must both pick these winners.
    val expected = Map("Loto" -> 1000L, "Recargado" -> 500L, "Revancha" -> 9L)
    val payloads = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("a", 0, "fa", "s1", true, Map("Loto" -> 1000L, "Recargado" -> 500L), 1L, "f"),
        Row("b", 1, "fb", "s2", true, Map("Loto" -> 1000L, "Recargado" -> 700L), 1L, "f"),
        Row("c", 2, "fc", "s3", true, Map("Loto" -> 1200L, "Revancha" -> 9L), 1L, "f")),
      SourceStubs.schema)
    def winners(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("categoria") -> r.getAs[Long]("valor")).toMap
    assert(winners(ConsensusOracle.merge(payloads)) == expected)
    assert(winners(Consensus.merge(payloads)) == expected)
  }

  test("distributed fetch: per-host groups, failures as data") {
    val pages = Map(
      "https://a.cl/p1" -> "<p>Loto Clásico: $100 MILLONES</p>",
      "https://a.cl/p2" -> "<p>Loto Clásico: $200 MILLONES</p>",
      "https://b.cl/p1" -> "<p>Recargado: $300 MILLONES</p>")
    // c.cl/missing has no page → empty body → parse failure as data
    val tasks = Seq(
      DistributedFetch.FetchTask("https://a.cl/p1", "a1", 0, true, false),
      DistributedFetch.FetchTask("https://a.cl/p2", "a2", 1, true, false),
      DistributedFetch.FetchTask("https://b.cl/p1", "b1", 2, true, false),
      DistributedFetch.FetchTask("https://c.cl/missing", "c1", 3, true, false))
    val out = DistributedFetch.fetchAll(spark, tasks,
        new FixtureTransport(pages), "TestBot/1.0", minIntervalMs = 0)
      .collect().map(o => o.source_name -> o).toMap
    assert(out.size == 4)
    assert(out("a1").ok && out("a1").montos("Loto Clásico") == 100000000L)
    assert(out("a2").ok && out("a2").montos("Loto Clásico") == 200000000L)
    assert(out("b1").ok && out("b1").montos("Recargado") == 300000000L)
    assert(!out("c1").ok && out("c1").error.isDefined)
    assert(out.values.filter(_.ok).forall(_.sha256.exists(_.length == 64)))
  }

  test("robots denial in distributed fetch is per-row data, not a job failure") {
    val t = new FixtureTransport(
      pages = Map("https://a.cl/ok" -> "<p>Revancha: $1 MILLONES</p>",
        "https://d.cl/deny" -> "<p>Revancha: $2 MILLONES</p>"),
      robotsTxt = Map("d.cl" -> "User-agent: *\nDisallow: /"))
    val tasks = Seq(
      DistributedFetch.FetchTask("https://a.cl/ok", "ok", 0, true, false),
      DistributedFetch.FetchTask("https://d.cl/deny", "denied", 1, true, false))
    val out = DistributedFetch.fetchAll(spark, tasks, t, "UA", minIntervalMs = 0)
      .collect().map(o => o.source_name -> o).toMap
    assert(out("ok").ok)
    assert(!out("denied").ok)
    assert(out("denied").error.exists(_.contains("Robots")))
  }

  test("tfidf: rare terms outweigh common ones; counts exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common rare1 common"),
      (2L, "common other"),
      (3L, "common third")).toDF("doc_id", "text")
    val w = TextAnalysis.tfidf(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term")) ->
        (r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Double]("tfidf"))).toMap
    assert(w((1L, "common"))._1 == 2L) // tf
    assert(w((1L, "common"))._2 == 3L) // df = all docs
    assert(w((1L, "common"))._3 == 0.0) // idf = ln(3/3) = 0
    assert(w((1L, "rare1"))._3 > 1.0)   // 1 * ln(3) ≈ 1.0986
  }

  test("single-scan profiler agrees with the per-column formulation") {
    import graft.ops.Profiler
    val df = Tables.orders(spark, sf("sf0.001"))
    val a = profilePerColumn(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val b = Profiler.profileSingleScan(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(a == b)
    assert(a("o_orderkey")._3 == a("o_orderkey")._1) // key is unique
  }

  test("single-scan profiler: -0.0 folds into 0.0 and quoted names survive") {
    import spark.implicits._
    import graft.ops.Profiler
    val df = Seq(0.0, -0.0, 1.5).toDF("d")
      .withColumnRenamed("d", "it's`a d") // quote + backtick in the name
    val r = Profiler.profileSingleScan(df).collect()
    assert(r.length == 1 && r(0).getString(0) == "it's`a d")
    assert(r(0).getLong(3) == 2L, // {0.0, 1.5} — NOT 3 (string-image -0.0)
      s"expected -0.0 to collapse into 0.0: ${r(0)}")
  }

  test("bigram LM: hand-computed smoothed probabilities; short docs excluded") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text")
    // corpus bigrams: (a,b)×3, (b,a)×1 → c(a)=3, c(b)=1, V=3 (a,b,x)
    val pba = (3.0 + 1) / (3 + 3) // p(b|a) add-1, V=3
    val pab = (1.0 + 1) / (1 + 3)
    val out = TextAnalysis.bigramLmScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((3L, r4((0.0 + math.log(pba) + math.log(pab) + math.log(pba)) / 3))))
    assert(out(2L) == ((1L, r4(math.log(pba)))))
    assert(!out.contains(3L)) // single-token doc has no bigrams
  }

  test("semantic decon: exact nearest eval, threshold flag, eval broadcast") {
    import spark.implicits._
    import graft.ops.Similarity
    val train = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.7, 0.7))
    ).toDF("vec_id", "embedding")
    val ev = Seq((100L, Seq(1.0, 0.05)), (101L, Seq(-1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDecon(train, ev, tau = 0.9).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(out(1L)._1 == 100L && out(1L)._3) // near-copy of eval 100
    assert(out(2L)._1 == 100L && !out(2L)._3) // orthogonal-ish, below tau
    assert(out(3L)._1 == 100L && !out(3L)._3)
    val plan = Similarity.semanticDecon(train, ev).queryExecution
      .executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") && plan.contains("PartialTopK"),
      plan.take(500))
  }

  test("vocab encode: frequency-ranked ids, OOV to 0, position order kept") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "b a b c b a"), // b×3 a×2 c×1
      (2L, "a z b")        // z is OOV at v=3? no — z freq 1 ties c
    ).toDF("doc_id", "text")
    // v=2: vocab = b(1), a(2); c and z are OOV
    val out = TextAnalysis.vocabEncode(docs, v = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((6L, 1L, "1 2 1 0 1 2")), out(1L))
    assert(out(2L) == ((3L, 1L, "2 0 1")), out(2L))
  }

  test("quantile profile: hand-checked interpolation; approx sane and one-scan") {
    import spark.implicits._
    import graft.ops.Profiler
    // {1..5}: p25 = 1 + 0.25*4 = 2, p50 = 3, p75 = 4, p95 = 4.8
    val df = (1 to 5).map(_.toDouble).toDF("x")
    val r = Profiler.quantileProfile(df, Seq("x")).collect().head
    assert(r.getAs[Double]("minv") == 1.0 && r.getAs[Double]("maxv") == 5.0)
    assert(r.getAs[Double]("p25") == 2.0)
    assert(r.getAs[Double]("p50") == 3.0)
    assert(r.getAs[Double]("p75") == 4.0)
    assert(r.getAs[Double]("p95") == 4.8)
    val a = Profiler.quantileProfileApprox(df, Seq("x")).collect().head
    assert(a.getAs[Double]("p25") <= a.getAs[Double]("p50") &&
      a.getAs[Double]("p50") <= a.getAs[Double]("p75"))
    assert(a.getAs[Double]("minv") <= a.getAs[Double]("p25") &&
      a.getAs[Double]("p95") <= a.getAs[Double]("maxv"))
    // both forms: ONE aggregate over the input — no per-column scans
    val plan = Profiler.quantileProfile(df, Seq("x")).queryExecution
      .executedPlan.toString
    assert(!plan.contains("Union"), plan.take(400))
  }

  test("quantile profile: small-corpus collect branch ≡ two-phase CDF") {
    import spark.implicits._
    import graft.ops.Profiler
    // dupes, negatives, -0.0/0.0, NaN (sorts last), nulls, a constant col
    val xs = Seq(3.0, 1.0, 2.0, 2.0, -5.5, -0.0, 0.0, Double.NaN, 7.25,
      1e-9, -1e9, 42.0, 42.0, 42.0)
    val df = xs.zipWithIndex.map { case (x, i) =>
      (x, if (i % 3 == 0) None else Some(x * 2 - 1), 9.0)
    }.toDF("a", "b", "c")
    val big = Profiler.quantileProfile(df, Seq("a", "b", "c"),
      rowsHint = Long.MaxValue).orderBy("column").collect()
    val small = Profiler.quantileProfile(df, Seq("a", "b", "c"),
      rowsHint = 0L).orderBy("column").collect()
    assert(big.toSeq.map(_.toString) === small.toSeq.map(_.toString))
  }

  test("log-histogram quantiles: relErr-bounded below exact rank values") {
    import spark.implicits._
    import graft.ops.Profiler
    val relErr = 0.01
    // geometric-ish positive data spanning 5 decades incl. sub-1 values
    val data = (1 to 500).map(i => math.pow(10.0, -2.0 + i * 0.014))
    val df = data.toDF("x")
    val r = Profiler.quantileProfileLogHist(df, Seq("x"), relErr = relErr)
      .collect().head
    val sorted = data.sorted
    for ((p, name) <- Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.95 -> "p95")) {
      val vRank = sorted(math.floor((data.length - 1) * p).toInt)
      val got = r.getAs[Double](name)
      assert(got <= vRank + 1e-4 && got >= vRank / (1 + relErr) - 1e-4,
        s"$name: $got not within relErr below $vRank")
    }
    assert(math.abs(r.getAs[Double]("minv") - sorted.head) < 1e-4)
    assert(math.abs(r.getAs[Double]("maxv") - sorted.last) < 1e-4)
  }

  test("log-histogram quantiles: mixed signs, zero, |v|<1 stay disjoint") {
    import spark.implicits._
    import graft.ops.Profiler
    // |v|<1 once made sign*(floor+1) ids collide across signs (floor<0
    // flips the sign of the id); this mix breaks ordering under that bug
    val data = Seq(-50.0, -1.97, -0.5, -0.09, 0.0, 0.11, 0.5, 0.995, 1.97, 50.0)
    val df = data.toDF("x")
    val r = Profiler.quantileProfileLogHist(df, Seq("x")).collect().head
    val ps = Seq("minv", "p25", "p50", "p75", "p95", "maxv")
      .map(r.getAs[Double])
    assert(ps == ps.sorted, s"percentiles must be monotone: $ps")
    assert(ps.head == -50.0 && ps.last == 50.0)
    // every reported percentile is an actual data value (bucket minima)
    ps.tail.init.foreach(v => assert(data.contains(v), s"$v not in data"))
  }

  test("vocab coverage: tier arithmetic, boundary tier needs no tie-break") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // freqs: a×5, b×3, c×3, d×1 — tiers (5,1), (3,2), (1,1); total 12
    val docs = Seq((1L, "a a a a a b b b c c c d")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(docs, Seq(1L, 2L, 3L, 10L))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((1L, 5L, 0.416667)))
    // cutoff 2 lands INSIDE the freq-3 tier: either of {b, c} gives 8
    assert(got(2L) == ((2L, 8L, 0.666667)))
    assert(got(3L) == ((3L, 11L, 0.916667)))
    assert(got(10L) == ((4L, 12L, 1.0))) // cutoff beyond |vocab| clamps
  }

  test("vocab coverage: partitioning-invariant two-phase cumsum, no Window") {
    // r13 verdict item 1: distinct frequency values grow ~√(tokens), so
    // the tier cumsum rides the two-phase distributed prefix sum
    // (Ids.stableIds pattern) — the value must be bit-identical under
    // any input partitioning and the plan must carry ZERO Window nodes
    // (no `WindowExec: No Partition Defined` from this query class)
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = (1 to 40).map(i => (i.toLong,
      (1 to (i % 7 + 1)).map(j => s"w${(i * j) % 13}").mkString(" ")))
      .toDF("doc_id", "text")
    val cuts = Seq(1L, 3L, 5L, 8L, 100L)
    val base = TextAnalysis.vocabCoverage(docs, cuts)
      .orderBy("vocab_size").collect().toSeq
    assert(base.nonEmpty)
    for (p <- Seq(1, 3, 17)) {
      val r = TextAnalysis.vocabCoverage(docs.repartition(p), cuts)
        .orderBy("vocab_size").collect().toSeq
      assert(r == base, s"partitioning $p changed the coverage curve")
    }
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(windows(TextAnalysis.vocabCoverage(docs, cuts)).isEmpty)
    // vocabEncode's bounded id window rode the same pattern out too
    assert(windows(TextAnalysis.vocabEncode(docs, v = 5)).isEmpty)
  }

  test("decontaminate: shared n-grams flagged, clean docs pass, eval broadcast") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),  // shares 5-grams
      (2L, "completely unrelated words nothing in common here"),
      (3L, "tiny")).toDF("doc_id", "text")                  // < n tokens
    val eval = Seq((100L, "we saw the quick brown fox jumps over a fence"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(train, eval, n = 5)
    val byId = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // "the quick brown fox jumps" and "quick brown fox jumps over"
    assert(byId(1L) == (5L, 2L, true))
    assert(byId(2L) == (3L, 0L, false))
    assert(byId(3L) == (0L, 0L, false)) // sub-n doc: zero grams, not dropped
    // the eval side must broadcast: the corpus-side join is never a shuffle
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "eval gram set not broadcast")
  }

  test("repetition signals: degenerate text scores high, varied text low") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "all words here are fully distinct tokens"),
      (3L, "x")).toDF("doc_id", "text")  // single token: no 2-grams
    val m = TextAnalysis.repetitionSignals(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Double]("uniq_word_frac") == 0.1667)
    assert(m(1L).getAs[Double]("top2_frac") == 1.0)   // every 2-gram identical
    assert(m(2L).getAs[Double]("uniq_word_frac") == 1.0)
    assert(m(2L).getAs[Long]("top2_count") == 1L)
    assert(m(3L).getAs[Long]("n_2grams") == 0L)
    assert(m(3L).getAs[Double]("top2_frac") == 0.0)
  }

  test("domain mix weights: big sources capped at budget, small keep 1.0") {
    import spark.implicits._
    import graft.ops.Sampling
    val docs = Seq.tabulate(30)(i =>
        (i.toLong, ("tok " * 10).trim, s"big")) ++      // 300 tokens total
      Seq((100L, "just a few words", "small"))          // 4 tokens
    val out = Sampling.domainMixWeights(
      docs.toDF("doc_id", "text", "source"), budgetPerSource = 100L)
    val m = out.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(m("big") == (30L, 300L, 0.3333, 99L))  // floor(300·0.3333)
    assert(m("small") == (1L, 4L, 1.0, 4L))
  }

  test("hashEmbed: deterministic, dim-sized, values in [-1, 1]") {
    import spark.implicits._
    import graft.ops.Similarity
    val df = Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"))
      .toDF("id", "t")
    val out = df.select(col("id"), Similarity.hashEmbed(col("t"), 8).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) == out(2L))            // same text, same vector
    assert(out(1L) != out(3L))
    assert(out.values.forall(v => v.size == 8 && v.forall(x => x >= -1 && x <= 1)))
  }


  test("semanticDedup: lower-id near-dup wins; far vectors and cross-cell pairs kept") {
    import spark.implicits._
    import graft.ops.Similarity
    // nCells = 1 disables blocking: pure pairwise semantics.
    // cos(v1,v2) ~ 1 (near-dup), cos(v1,v3) = 0, cos(v1,v4) = -1.
    val e = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.99, 0.01, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0)),
      (4L, Seq(-1.0, 0.0, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(e, tau = 0.9, nCells = 1, iters = 0)
      .orderBy("vec_id").collect()
    assert(out.map(_.getAs[Boolean]("kept")).toSeq ==
      Seq(true, false, true, true))
    assert(out(1).getAs[Long]("dup_of") == 1L) // 2 is a dup OF 1, not vice versa
    // invariant: dropped rows always point at a lower id; kept <=> no dup_of
    for (r <- out) {
      val kept = r.getAs[Boolean]("kept")
      assert(kept == r.isNullAt(r.fieldIndex("dup_of")))
      if (!kept) assert(r.getAs[Long]("dup_of") < r.getAs[Long]("vec_id"))
    }
  }

  test("semanticDedup blocking: near-dups in DIFFERENT cells are not compared") {
    import spark.implicits._
    import graft.ops.Similarity
    // Two tight groups on opposite axes; seeds (first 2 by vec_id) land
    // one in each group, so Lloyd separates them. The cross-group pair
    // (1,3) has cosine 1 ONLY via sign flip - actually use identical
    // vectors in both groups to prove cell-blocking bounds the search.
    val e = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.98, 0.02)),   // cell A
      (3L, Seq(0.0, 1.0)), (4L, Seq(0.02, 0.98))    // cell B
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(e, tau = 0.9, nCells = 2, iters = 1)
      .orderBy("vec_id").collect()
    val cells = out.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    assert(cells(1L) == cells(2L) && cells(3L) == cells(4L))
    assert(cells(1L) != cells(3L))
    // in-cell near-dups pruned, one survivor per cell
    assert(out.count(_.getAs[Boolean]("kept")) == 2)
    assert(out(1).getAs[Long]("dup_of") == 1L)
    assert(out(3).getAs[Long]("dup_of") == 3L)
  }

  test("qualityScoreExpr agrees with qualityScore on the corpus") {
    import graft.ops.Similarity // (import parity with sibling tests)
    val docs = Tables.documents(spark, sf("sf0.001"))
    val viaDf = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("q_score"))
    val viaExpr = docs.select(col("doc_id"),
      TextAnalysis.qualityScoreExpr(col("text")).as("q2"))
    val joined = viaDf.join(viaExpr, "doc_id")
      .filter(col("q_score") =!= col("q2")).count()
    assert(joined == 0L)
  }

  test("approx profiler: no Expand in the plan, estimates within 15% of exact") {
    import graft.ops.Profiler
    val df = Tables.orders(spark, sf("sf0.001"))
    val exact = Profiler.profileSingleScan(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val approxDf = Profiler.profileApprox(df)
    val approx = approxDf.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for ((c, (nRows, nNulls, nDistinct)) <- exact) {
      val (aRows, aNulls, aDistinct) = approx(c)
      assert((aRows, aNulls) == (nRows, nNulls), s"exact stats differ for $c")
      assert(math.abs(aDistinct - nDistinct) <= math.max(1L, (nDistinct * 0.15).toLong),
        s"$c: approx $aDistinct vs exact $nDistinct")
    }
    // the 100 TB property: HLL sketches are plain aggregate buffers —
    // no Expand node multiplying input rows ×2N (VERDICT r4 #2)
    val aggPlan = df.agg(
      org.apache.spark.sql.functions.count_if(df("o_custkey").isNull),
      org.apache.spark.sql.functions.approx_count_distinct(df("o_custkey")),
      org.apache.spark.sql.functions.approx_count_distinct(df("o_orderstatus")))
      .queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Expand"), "approx profile plan must not Expand")
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // hot key 0 carries ~95% of the fact rows; with the skew thresholds
    // scaled down to toy-data sizes, AQE must mark the SMJ skew-handled
    // and split the hot partition instead of leaving one straggler task
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val fact = (0L until 40000L)
        .map(i => (if (i % 20 != 0) 0L else i % 97, s"payload_$i"))
        .toDF("k", "v")
      val dim = (0L until 97L).map(i => (i, s"dim_$i")).toDF("k", "name")
      val joined = fact.join(dim, "k")
      // execute THIS df — AQE finalizes (and skew-splits) only the
      // executed plan, not derived ones like count()'s
      assert(joined.collect().length == 40000)
      val p = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("skew=true") || p.contains("skewed"),
        s"AQE did not split the skewed partition:\n${p.take(1600)}")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("runtime bloom filter: selective dim join injects might_contain on the fact scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // DPP's sibling for NON-partition join columns: InjectRuntimeFilter
    // builds a bloom filter from the filtered dim side and pushes a
    // might_contain predicate into the fact scan, so a shuffle join over
    // 100 TB ships only rows that can possibly match. Thresholds are
    // sized for real lakes (creation side ≤ 10 MB plan-stat bytes, fact
    // scan ≥ 10 GB), so scale them to toy data to pin the mechanism.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    val factDir = java.nio.file.Files.createTempDirectory("rtf-fact").toString
    val dimDir = java.nio.file.Files.createTempDirectory("rtf-dim").toString
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // shuffle join, the case that benefits
      (0L until 20000L).map(i => (i % 997, s"payload_$i")).toDF("k", "v")
        .write.mode("overwrite").parquet(factDir)
      (0L until 997L).map(i => (i, if (i < 5) "hot" else "cold")).toDF("d_k", "tag")
        .write.mode("overwrite").parquet(dimDir)
      val fact = spark.read.parquet(factDir)
      val dim = spark.read.parquet(dimDir).filter($"tag" === "hot")
      val joined = fact.join(dim, $"k" === $"d_k")
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") && optimized.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected:\n${optimized.take(2000)}")
      // and it must not change results vs the plain join
      assert(joined.count() ===
        (0L until 20000L).count(i => i % 997 < 5).toLong)
    } finally {
      saved.foreach { case (k, v) =>
        v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
      }
    }
  }

  test("streaming split sink routes publish vs quarantine batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.PozoUpdate
    val published = scala.collection.mutable.ListBuffer[Long]()
    val parked = scala.collection.mutable.ListBuffer[Long]()
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[PozoUpdate]
    val q = EventStreams.pozoChangeDetect(input.toDS())
      .writeStream
      .foreachBatch(EventStreams.routedBatchWriter(
        df => published ++= df.select("sorteo").collect().map(_.getLong(0)),
        df => parked ++= df.select("sorteo").collect().map(_.getLong(0))))
      .outputMode("append").start()
    try {
      val ts = new java.sql.Timestamp(1700000000000L)
      input.addData(PozoUpdate(1L, "f", "s1", Map("Loto" -> 1L), ts))
      q.processAllAvailable()
      input.addData(PozoUpdate(1L, "f", "s1", Map("Loto" -> 1L), ts)) // repeat → skip
      q.processAllAvailable()
      assert(published.toList == List(1L))
      assert(parked.toList == List(1L))
    } finally q.stop()
  }
}
