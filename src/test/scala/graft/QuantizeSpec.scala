package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.Similarity

/** Pins [[graft.functions.QuantizeInt8Expr]] — the one-pass native int8
  * quantizer — bit-identical to the declarative HOF chain it replaced
  * (`quantizeInt8Declarative` below, the oracle semantics verbatim). The
  * generator hits the numeric edges: all-zero vectors
  * (cos_recon NULL via the norm guard), sub-1e-12 magnitudes (the scale
  * floor), round-half boundaries (.5 quantization ties), ±values at the
  * ±127 clamp, mixed magnitudes, and the empty vector (scale floor,
  * NaN mse from 0/0). */
class QuantizeSpec extends SparkSpec {

  private def check(p: Prop, min: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  /** The declarative HOF chain [[Similarity.quantizeInt8]] replaced. */
  private def quantizeInt8Declarative(embeddings: DataFrame): DataFrame = {
    val x = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    val s = x.withColumn("scale",
      greatest(array_max(transform(col("e"), v => abs(v))), lit(1e-12)) / 127)
    val q = s.withColumn("q", transform(col("e"),
      v => greatest(least(round(v / col("scale")), lit(127.0)), lit(-127.0))
        .cast("int")))
    val r = q.withColumn("recon",
      transform(col("q"), c => c * col("scale")))
    val m = r.select(col("vec_id"), col("scale"), col("q"),
      aggregate(zip_with(col("e"), col("recon"),
        (a, b) => (a - b) * (a - b)), lit(0.0), _ + _).as("__se"),
      size(col("e")).cast("double").as("__d"),
      aggregate(zip_with(col("e"), col("recon"), _ * _), lit(0.0), _ + _)
        .as("__dot"),
      aggregate(transform(col("e"), v => v * v), lit(0.0), _ + _).as("__ne2"),
      aggregate(transform(col("recon"), v => v * v), lit(0.0), _ + _)
        .as("__nr2"))
    m.select(col("vec_id"), round(col("scale"), 6).as("scale"),
      array_join(col("q"), " ").as("codes"),
      round(col("__se") / col("__d"), 10).as("mse"),
      // all-zero vector ⇒ zero reconstruction: cosine undefined → null
      // (an ANSI-mode division, not NaN — keep the guard explicit)
      when(col("__ne2") > 0 && col("__nr2") > 0,
        round(col("__dot") / (sqrt(col("__ne2")) * sqrt(col("__nr2"))), 6))
        .as("cos_recon"))
  }

  private val element: Gen[Double] = Gen.oneOf(
    Gen.chooseNum(-3.0, 3.0),
    Gen.oneOf(0.0, -0.0, 1e-13, -1e-13, 0.5, -0.5, 1.5, 2.5, -2.5,
      127.0, -127.0, 300.0, -300.0, 63.5, -63.5),
    Gen.chooseNum(-1e6, 1e6))

  // no empty vectors: the declarative mse divides by size(e), which under
  // ANSI throws DIVIDE_BY_ZERO — embeddings are dense non-empty by schema
  // contract, so the equivalence domain is non-empty arrays
  private val vectors: Gen[List[Double]] = Gen.frequency(
    8 -> Gen.chooseNum(1, 64).flatMap(Gen.listOfN(_, element)),
    1 -> Gen.const(List.fill(8)(0.0)))

  test("quantize_int8 ≡ declarative HOF chain (property)") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOfN(30, vectors)) { vecs: List[List[Double]] =>
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
        .toDF("vec_id", "embedding")
      val native = Similarity.quantizeInt8(df)
      val decl = quantizeInt8Declarative(df)
      val diff = native.exceptAll(decl).unionAll(decl.exceptAll(native))
      val bad = diff.collect()
      if (bad.nonEmpty)
        println(s"quantize drift on: ${bad.take(5).mkString("; ")}")
      bad.isEmpty
    }, min = 12)
  }

  test("spot values: zero vector and clamp") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(0.0f, 0.0f)),            // zero: scale floor, cos NULL
      (1L, Seq(254.0f, -2.0f, 1.0f)))   // scale 2: codes 127 -1 1 (wait: clamp)
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df).orderBy("vec_id").collect()
    assert(got(0).isNullAt(got(0).fieldIndex("cos_recon")))
    assert(got(0).getString(got(0).fieldIndex("codes")) === "0 0")
    assert(got(1).getString(got(1).fieldIndex("codes")) === "127 -1 1")
  }
}
