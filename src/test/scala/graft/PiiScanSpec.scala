package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.TextAnalysis

/** Pins [[graft.functions.PiiScanExpr]] — the single-pass native PII
  * scanner — bit-identical to the `regexp_count`/`regexp_replace`
  * formulation it replaced (`piiFeaturesRegex` below, which is the
  * declared/oracle semantics verbatim). The generator is built to
  * hit the scanner's hand-compiled backtracking edges: domain runs with
  * multiple dots and short TLDs, local-class characters ('_', '%', '+')
  * that extend past a failed domain, '@' chains, digit runs at the
  * {7,}+final-digit length boundary, '+' prefixes, and matches
  * adjacent to multi-byte UTF-8. */
class PiiScanSpec extends SparkSpec {

  private def check(p: Prop, min: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  /** The regexp_* formulation [[TextAnalysis.piiFeatures]] replaced. */
  private def piiFeaturesRegex(documents: DataFrame): DataFrame = {
    val t = col("text")
    documents
      .withColumn("n_emails", regexp_count(t, lit(TextAnalysis.emailRe)))
      .withColumn("n_phones", regexp_count(t, lit(TextAnalysis.phoneRe)))
      .withColumn("has_pii", col("n_emails") > 0 || col("n_phones") > 0)
      .withColumn("redacted", regexp_replace(
        regexp_replace(t, TextAnalysis.emailRe, "[EMAIL]"),
        TextAnalysis.phoneRe, "[PHONE]"))
  }

  private val fragments: Gen[String] = Gen.oneOf(
    Gen.oneOf("bob@mail.com", "a@b.co", "a@b.c", "x@y.museum",
      "a.b_c%d+e-f@sub.domain-x.org", "a@b.co.uk", "a@b.co.u",
      "a@b..com", "a@.com", "@nope.com", "user@", "a@b",
      "a@b.co.x", "a@b@c.com", "mid_a@b.com_tail", "a@b.com%c@d.org",
      "a@-x-.co", "a@1.22", "a@b.c0m", "....@....", "+@+.com"),
    Gen.oneOf("+56 9 1234 5678", "12345678", "1234567", "123456789",
      "(02) 1234-567", "+1 (800) 555-0199", "+++12345678",
      "12345678901234567890", "1234 56-78", "(((((((((", "123-456-78a",
      "98765432)", "+56912345678 and 12 34", "1(2)3-4 5(6)7-8-9",
      "tel:123 4567 890."),
    Gen.oneOf(" ", "  ", "\n", "\twords ", "ñandú ", "日本語", "x", "-", "_",
      "%", "+", ".", "@", "a", "Z9"),
    Gen.alphaNumStr.map(_.take(12)))

  private val texts: Gen[String] =
    Gen.chooseNum(0, 8).flatMap(k => Gen.listOfN(k, fragments).map(_.mkString))

  test("pii_scan ≡ regexp formulation on adversarial fragments (property)") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOfN(40, texts)) { docs: List[String] =>
      val df = docs.zipWithIndex.toDF("text", "doc_id")
      val native = TextAnalysis.piiFeatures(df)
        .select("doc_id", "n_emails", "n_phones", "has_pii", "redacted")
      val regex = piiFeaturesRegex(df)
        .select("doc_id", "n_emails", "n_phones", "has_pii", "redacted")
      val diff = native.exceptAll(regex).unionAll(regex.exceptAll(native))
      val bad = diff.collect()
      if (bad.nonEmpty)
        println(s"pii_scan drift on: ${bad.take(5).mkString("; ")}")
      bad.isEmpty
    }, min = 12)
  }

  test("pii_scan handles null and empty input") {
    import spark.implicits._
    val df = Seq((0, null: String), (1, ""), (2, "no pii at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.piiFeatures(df).orderBy("doc_id")
      .select("n_emails", "n_phones", "redacted").collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(2))
    assert(out(1).getInt(0) === 0 && out(1).getString(2) === "")
    assert(out(2).getInt(0) === 0 && out(2).getString(2) === "no pii at all")
  }

  test("spot values (golden, both paths)") {
    import spark.implicits._
    // hand-checked against java.util.regex itself
    val cases = Seq(
      ("contact a@b.co.uk now", 1, 0, "contact [EMAIL] now"),
      ("tel +56 9 1234 5678.", 0, 1, "tel [PHONE]."),
      // digits inside an email count as a phone on the original text but
      // are redacted with the email (declared pass order); the digit
      // prefix is part of the local part, so the whole token is one match
      ("call12345678901@mail.com", 1, 1, "[EMAIL]"),
      ("a@b.co.x", 1, 0, "[EMAIL].x"),
      ("a@b@c.com", 1, 0, "a@[EMAIL]"),
      // '_' is local-class: both underscore-joined tokens are one match
      // each, starting at the underscore-extended local part
      ("x_a@b.com_y@z.org", 2, 0, "[EMAIL][EMAIL]"))
    val df = cases.map(_._1).zipWithIndex.toDF("text", "doc_id")
    for (fn <- Seq(TextAnalysis.piiFeatures(df), piiFeaturesRegex(df))) {
      val got = fn.orderBy("doc_id")
        .select("n_emails", "n_phones", "redacted").collect()
      cases.zipWithIndex.foreach { case ((txt, ne, np, red), i) =>
        assert(got(i).getInt(0) === ne, s"n_emails of '$txt'")
        assert(got(i).getInt(1) === np, s"n_phones of '$txt'")
        assert(got(i).getString(2) === red, s"redacted of '$txt'")
      }
    }
  }
}
