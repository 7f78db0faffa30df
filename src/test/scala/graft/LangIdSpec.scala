package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.TextAnalysis

/** Pins [[graft.functions.LangIdExpr]] — the one-walk native language
  * picker — bit-identical to the declarative marker-score argmax it
  * replaced (`langIdDeclarative` below, the oracle semantics verbatim).
  * The generator mixes marker tokens from every language
  * (several markers are SHARED across languages — "de", "la", "a" — so
  * the bitmask fan-out and the alphabetical tiebreak both get exercised),
  * case variants the `lower()` child must fold, multi-byte UTF-8,
  * tab/newline separators, and leading/trailing whitespace (boundary
  * empty tokens). */
class LangIdSpec extends SparkSpec {

  private def check(p: Prop, min: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  /** Marker-token hits per language, as a language → count map. */
  private def langScores(c: Column): Column = {
    val tks = TextAnalysis.toks(lower(c))
    map_from_arrays(
      array(TextAnalysis.langMarkers.map(m => lit(m._1)): _*),
      array(TextAnalysis.langMarkers.map { case (_, ms) =>
        size(filter(tks, t => t.isin(ms.map(lit): _*)))
      }: _*))
  }

  /** The declarative argmax form [[TextAnalysis.langId]] replaced. */
  private def langIdDeclarative(documents: DataFrame): DataFrame =
    documents.withColumn("scores", langScores(col("text")))
      .withColumn("pred_lang",
        expr("array_sort(map_entries(scores), " +
          "(l, r) -> CASE WHEN l.value > r.value THEN -1 " +
          "WHEN l.value < r.value THEN 1 " +
          "WHEN l.key < r.key THEN -1 WHEN l.key > r.key THEN 1 ELSE 0 END)[0].key"))
      .drop("scores")

  private val allMarkers: Seq[String] =
    TextAnalysis.langMarkers.flatMap(_._2).distinct

  private val words: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(allMarkers),
    2 -> Gen.oneOf(allMarkers).map(_.toUpperCase),
    1 -> Gen.oneOf("ñandú", "日本語", "thee", "dee", "queso", "losers",
      "withy", "o.", "a,", "", "x"),
    2 -> Gen.alphaNumStr.map(_.take(8)))

  private val seps: Gen[String] = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")

  private val texts: Gen[String] = for {
    k <- Gen.chooseNum(0, 30)
    ws <- Gen.listOfN(k, words)
    ss <- Gen.listOfN(k + 1, seps)
    lead <- Gen.oneOf("", " ", "\t")
    trail <- Gen.oneOf("", " ", "\n")
  } yield lead + ws.zip(ss).map { case (w, s) => w + s }.mkString + trail

  test("lang_id_pick ≡ declarative argmax (property)") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOfN(60, texts)) { docs: List[String] =>
      val df = docs.zipWithIndex.toDF("text", "doc_id")
      val native = TextAnalysis.langId(df).select("doc_id", "pred_lang")
      val decl = langIdDeclarative(df).select("doc_id", "pred_lang")
      val diff = native.exceptAll(decl).unionAll(decl.exceptAll(native))
      val bad = diff.collect()
      if (bad.nonEmpty)
        println(s"lang_id drift on: ${bad.take(5).mkString("; ")}")
      bad.isEmpty
    }, min = 12)
  }

  test("spot values: tiebreaks and shared markers") {
    import spark.implicits._
    val cases = Seq(
      ("", "de"),                       // all-zero scores → alphabetical
      ("the fast slow", "en"),
      ("el la de y", "es"),
      ("de de", "es"),                  // "de" ∈ es/fr/pt sets, tie → es
      ("la la", "es"),                  // es/fr tie → es
      ("o a e", "pt"),
      ("LE LA DE ET", "fr"),            // case folds
      ("der die das und ist mit el la de y que los x", "de"))
    val df = cases.map(_._1).zipWithIndex.toDF("text", "doc_id")
    val got = TextAnalysis.langId(df).orderBy("doc_id")
      .select("pred_lang").collect().map(_.getString(0))
    cases.zipWithIndex.foreach { case ((txt, want), i) =>
      assert(got(i) === want, s"pred_lang of '$txt'")
    }
  }

  test("null text stays null") {
    import spark.implicits._
    val df = Seq((0, null: String), (1, "the the")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(df).orderBy("doc_id")
      .select("pred_lang").collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getString(0) === "en")
  }
}
