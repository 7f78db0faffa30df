package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.TextAnalysis

/** Pins [[graft.functions.GopherStatsExpr]] — the two-walk native Gopher
  * counter — bit-identical to the declarative rlike/fold formulation
  * (`gopherRulesDeclarative` below, the oracle semantics verbatim). The
  * generator drives the walk's edges: bullet chars
  * ('-', '*', multi-byte '•') at line starts, "..." runs at overlap
  * boundaries ("....." is ONE non-overlapping match), '…' adjacency,
  * lines ending in '\r' (Java `$` steps over one final terminator),
  * '#' symbols, stopwords at token boundaries, zero-alpha tokens, and
  * tab-edged boundary empties that survive the space-only trim. */
class GopherStatsSpec extends SparkSpec {

  private def check(p: Prop, min: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  /** The declarative measurement form [[TextAnalysis.gopherRules]]
    * replaced, at its default thresholds; the verdict columns are the
    * shared [[TextAnalysis.gopherVerdicts]]. */
  private def gopherRulesDeclarative(documents: DataFrame): DataFrame = {
    val toksed = documents.select(col("doc_id"),
      TextAnalysis.toks(lower(col("text"))).as("__w"),
      split(col("text"), "\n").as("__lines"),
      col("text").as("__text"))
    val n = size(col("__w")).cast("long")
    val nLines = greatest(size(col("__lines")), lit(1)).cast("double")
    val hashes = length(col("__text")) -
      length(regexp_replace(col("__text"), "#", ""))
    val ellipses =
      (length(col("__text")) -
        length(regexp_replace(col("__text"), "\\.\\.\\.", ""))) / 3 +
      (length(col("__text")) - length(regexp_replace(col("__text"), "…", "")))
    val measured = toksed.select(
      col("doc_id"),
      n.as("n_words"),
      round(aggregate(col("__w"), lit(0L), (a, x) => a + length(x)) /
        greatest(n, lit(1)).cast("double"), 4).as("mean_word_len"),
      round((hashes + ellipses) / greatest(n, lit(1)).cast("double"), 4)
        .as("symbol_ratio"),
      round(size(filter(col("__lines"), l => l.rlike("^[-*•]"))) / nLines, 4)
        .as("bullet_ratio"),
      round(size(filter(col("__lines"), l => l.rlike("(\\.\\.\\.|…)$"))) / nLines, 4)
        .as("ellipsis_ratio"),
      round(size(filter(col("__w"), w => w.rlike("[a-z]"))) /
        greatest(n, lit(1)).cast("double"), 4).as("alpha_ratio"),
      size(array_intersect(array_distinct(col("__w")),
        array(TextAnalysis.gopherStopwords.map(lit): _*))).cast("long").as("n_stopwords"))
    TextAnalysis.gopherVerdicts(measured, minWords = 50, maxWords = 100000,
      minMeanLen = 3, maxMeanLen = 10, maxSymbolRatio = 0.1,
      maxBulletRatio = 0.9, maxEllipsisRatio = 0.3, minAlphaRatio = 0.8,
      minStopwords = 2)
  }

  private val frags: Gen[String] = Gen.oneOf(
    Gen.oneOf(TextAnalysis.gopherStopwords),
    Gen.oneOf("- bullet line\n", "* star\n", "• dot bullet\n", "…\n",
      "trail...\n", "trail...\r\n", "....\n", ".....\n", "......\n",
      "#tag ##double", "a…b", "...", "…", "x\n\n", "\n",
      // Unicode line terminators Java `$` also steps over (r18 ADVICE):
      // NEL, LINE SEPARATOR, PARAGRAPH SEPARATOR after an ellipsis
      "end...\n", "fin… \n", "p... ", "q…"),
    Gen.oneOf(" ", "\t", "  ", "café ", "日本語 ", "B2B ", "123 ", "-", "*"),
    Gen.alphaNumStr.map(_.take(10) + " "))

  private val texts: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(k => Gen.listOfN(k, frags).map(_.mkString))

  private val outCols = Seq("doc_id", "n_words", "mean_word_len",
    "symbol_ratio", "bullet_ratio", "ellipsis_ratio", "alpha_ratio",
    "n_stopwords", "pass")

  test("gopher_stats ≡ declarative rule battery (property)") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOfN(40, texts)) { docs: List[String] =>
      val df = docs.zipWithIndex.toDF("text", "doc_id")
      val native = TextAnalysis.gopherRules(df).select(outCols.head, outCols.tail: _*)
      val decl = gopherRulesDeclarative(df)
        .select(outCols.head, outCols.tail: _*)
      val diff = native.exceptAll(decl).unionAll(decl.exceptAll(native))
      val bad = diff.collect()
      if (bad.nonEmpty)
        println(s"gopher drift on: ${bad.take(5).mkString("; ")}")
      bad.isEmpty
    }, min = 12)
  }

  test("spot values: lines, symbols, stopword distinctness") {
    import spark.implicits._
    val df = Seq(
      (0, "- a\n* b\n• c\nplain"),        // 3 of 4 lines bullets
      (1, "end...\nalso…\nno"),           // 2 of 3 ellipsis lines
      (2, "## x ..... …"),                // 2 hashes + 1 ddd + 1 hellip
      (3, "the the to to of"))            // 3 DISTINCT stopwords, 5 words
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(df).orderBy("doc_id")
      .select("bullet_ratio", "ellipsis_ratio", "symbol_ratio", "n_stopwords",
        "n_words").collect()
    assert(got(0).getDouble(0) === 0.75)
    assert(got(1).getDouble(1) === 0.6667)   // round(2/3, 4)
    assert(got(2).getDouble(2) === 1.0)   // 4 symbols / 4 words
    assert(got(3).getLong(3) === 3L && got(3).getLong(4) === 5L)
  }
}
