package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.TextAnalysis

/** Pins [[graft.functions.TokenSetCountExpr]] — the one-walk native
  * token-set counter behind [[TextAnalysis.stopwordCount]] — identical
  * to the declarative filter + isin form it replaced (the reference
  * twin below) on adversarial whitespace and case mixes. */
class TokenSetCountSpec extends SparkSpec {

  private def check(p: Prop, min: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  /** The declarative form [[TextAnalysis.stopwordCount]] replaced. */
  private def stopwordCountDeclarative(c: Column): Column =
    size(filter(TextAnalysis.toks(lower(c)),
      t => t.isin(TextAnalysis.stopwords.map(lit): _*)))

  private val words: Gen[String] = Gen.frequency(
    5 -> Gen.oneOf("the", "a", "of", "and", "to", "in", "is"),
    2 -> Gen.oneOf("THE", "Of", "iS"),
    2 -> Gen.oneOf("then", "off", "xyz", "", "日本語", "a.", "-the"),
    1 -> Gen.alphaNumStr.map(_.take(6)))

  private val texts: Gen[String] = for {
    k <- Gen.chooseNum(0, 20)
    ws <- Gen.listOfN(k, words)
    ss <- Gen.listOfN(k + 1, Gen.oneOf(" ", "\t", "\n", "  "))
    lead <- Gen.oneOf("", " ", "\t")
  } yield lead + ws.zip(ss).map { case (w, s) => w + s }.mkString

  test("token_set_count ≡ filter+isin (property)") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOfN(60, texts)) { docs: List[String] =>
      val df = docs.zipWithIndex.toDF("text", "doc_id")
      val native = df.select(col("doc_id"),
        TextAnalysis.stopwordCount(col("text")).as("c"))
      val decl = df.select(col("doc_id"),
        stopwordCountDeclarative(col("text")).as("c"))
      val diff = native.exceptAll(decl).unionAll(decl.exceptAll(native))
      val bad = diff.collect()
      if (bad.nonEmpty)
        println(s"token_set_count drift on: ${bad.take(5).mkString("; ")}")
      bad.isEmpty
    }, min = 12)
  }
}
