package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.TextAnalysis

/** Pins [[graft.functions.TextStatsExpr]] — the one-walk readability
  * counter — bit-identical to the declarative ws_split + regexp_count
  * formulation it replaced (`readabilityCountsDeclarative` below, the
  * oracle semantics verbatim). The generator targets the walk's
  * boundary logic: tab/newline edges that survive Spark's space-only
  * trim (boundary empty tokens), vowel runs split across 'y', zero-vowel
  * tokens (syllable floor), [.!?]+ runs adjacent to spaces and to each
  * other, multi-byte UTF-8 next to class bytes, and all-whitespace /
  * empty documents. */
class TextStatsSpec extends SparkSpec {

  private def check(p: Prop, min: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  /** The declarative count form [[TextAnalysis.readability]] replaced. */
  private def readabilityCountsDeclarative(documents: DataFrame): DataFrame = {
    val toksed = documents.select(col("doc_id"),
      TextAnalysis.toks(lower(col("text"))).as("__w"), col("text").as("__text"))
    toksed.select(col("doc_id"),
      size(col("__w")).cast("long").as("n_words"),
      greatest(regexp_count(col("__text"), lit("[.!?]+")), lit(1))
        .cast("long").as("n_sentences"),
      aggregate(transform(col("__w"),
          w => greatest(regexp_count(w, lit("[aeiouy]+")), lit(1))),
        lit(0L), _ + _).as("n_syllables"))
  }

  private val words: Gen[String] = Gen.oneOf(
    "the", "rhythm", "aeiouy", "x", "b2b", "yyy", "café", "ñandú",
    "日本語", "a.b", "end.", "!!ok??", "...", "?!.", "Y", "AEIOU", "bcdfg")

  private val seps: Gen[String] = Gen.oneOf(" ", "  ", "\t", "\n", ". ", "! ",
    "?? ", " .", "\t!")

  private val texts: Gen[String] = for {
    k <- Gen.chooseNum(0, 25)
    ws <- Gen.listOfN(k, words)
    ss <- Gen.listOfN(k + 1, seps)
    lead <- Gen.oneOf("", " ", "\t", "...")
    trail <- Gen.oneOf("", " ", "\n", "!!!")
  } yield lead + ws.zip(ss).map { case (w, s) => w + s }.mkString + trail

  test("text_stats ≡ declarative counts (property)") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOfN(60, texts)) { docs: List[String] =>
      val df = docs.zipWithIndex.toDF("text", "doc_id")
      val native = TextAnalysis.readability(df)
        .select("doc_id", "n_words", "n_sentences", "n_syllables")
      val decl = readabilityCountsDeclarative(df)
        .select("doc_id", "n_words", "n_sentences", "n_syllables")
      val diff = native.exceptAll(decl).unionAll(decl.exceptAll(native))
      val bad = diff.collect()
      if (bad.nonEmpty)
        println(s"text_stats drift on: ${bad.take(5).mkString("; ")}")
      bad.isEmpty
    }, min = 12)
  }

  test("spot values: trim/empty/floor edges") {
    import spark.implicits._
    val cases = Seq(
      // (text, n_words, n_sentences, n_syllables)
      ("", 1L, 1L, 1L),                 // [""] → 1 word, floors
      ("   ", 1L, 1L, 1L),              // all-space trims to ""
      ("\ta", 2L, 1L, 2L),              // tab survives trim → ["", "a"]
      ("one two.", 2L, 1L, 3L),        // "one" → o|e = 2 runs, "two." → 1
      ("Hi!! Bye! ok?", 3L, 3L, 3L),    // "Hi!!"→1 syl (i), runs !!,!,?
      ("bcdfg", 1L, 1L, 1L),            // zero-vowel floor
      ("aeiouy", 1L, 1L, 1L),           // one maximal vowel run
      ("ya ay a-y", 3L, 1L, 4L))        // runs: ya|a, ay, a + y
    val df = cases.map(_._1).zipWithIndex.toDF("text", "doc_id")
    val got = TextAnalysis.readability(df).orderBy("doc_id")
      .select("n_words", "n_sentences", "n_syllables").collect()
    cases.zipWithIndex.foreach { case ((txt, w, s, y), i) =>
      assert(got(i).getLong(0) === w, s"n_words of '$txt'")
      assert(got(i).getLong(1) === s, s"n_sentences of '$txt'")
      assert(got(i).getLong(2) === y, s"n_syllables of '$txt'")
    }
  }
}
