package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.Consensus

/** `Consensus.merge` against its reference twin [[ConsensusOracle]] (the
  * window formulation) on random payload sets: one to four sources, each
  * with its own priority, amounts drawn from a small pool so values
  * collide and vote counts tie; empty payloads, total*-only payloads and
  * zero or negative winners all occur. */
class ConsensusPropertySpec extends SparkSpec {

  private type Payload = (String, Int, Map[String, Long])

  private def payloads(ps: Seq[Payload]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ps.map { case (n, prio, m) =>
      Row(n, prio, s"https://$n.cl/", s"sha-$n", true, m, 5417L, "2026-04-26")
    }: _*), SourceStubs.schema)

  /** Every output column, the disagreement map as ordered keys and values
    * (its order is the report's byte order), rows by categoria. */
  private def rows(df: DataFrame): List[List[Any]] = {
    def norm(v: Any): Any = v match {
      case s: scala.collection.Seq[_] => s.map(norm).toList
      case x => x
    }
    df.select(col("categoria"), col("valor"), col("winner_sources"),
        col("n_candidates"), map_keys(col("disagreeing")), map_values(col("disagreeing")),
        col("max_deviation"), col("missing_sources"), col("has_mismatch"))
      .collect().toList.map(_.toSeq.map(norm).toList).sortBy(_.head.toString)
  }

  private val categories = Seq("Loto Clásico", "Recargado", "Revancha", "Jubilazo")
  private val totals = Seq("Total estimado", "TOTAL pozos")
  private val amount = Gen.oneOf(-7L, 0L, 5L, 1000L, 1200L)

  private def amountsFor(cats: Seq[String]): Gen[Map[String, Long]] =
    Gen.sequence[List[Option[(String, Long)]], Option[(String, Long)]](cats.map(c =>
      Gen.option(amount.map(c -> _)))).map(_.flatten.toMap)

  private val montos: Gen[Map[String, Long]] = Gen.frequency(
    1 -> Gen.const(Map.empty[String, Long]),
    1 -> amountsFor(totals),
    6 -> amountsFor(categories ++ totals))

  private val payloadSet: Gen[Seq[Payload]] = for {
    n <- Gen.choose(1, 4)
    prios <- Gen.pick(n, 0 until 8)
    ms <- Gen.listOfN(n, montos)
  } yield prios.toList.zip(ms).zipWithIndex.map { case ((p, m), i) => (s"s$i", p, m) }

  test("merge matches the window-formulation oracle on random payloads") {
    val prop = Prop.forAll(payloadSet) { ps =>
      val df = payloads(ps)
      val got = rows(Consensus.merge(df))
      val want = rows(ConsensusOracle.merge(df))
      Prop(got == want) :| s"payloads=$ps\n got=$got\nwant=$want"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("a source reporting only total* is missing from every category") {
    val m = Consensus.merge(payloads(Seq(
      ("a", 0, Map("Loto" -> 10L)), ("t", 1, Map("Total estimado" -> 99L)),
      ("e", 2, Map.empty[String, Long]))))
      .collect().map(r => r.getAs[String]("categoria") ->
        r.getAs[scala.collection.Seq[String]]("missing_sources").toList).toMap
    assert(m == Map("Loto" -> List("t")))
  }

  test("duplicate source name: listed once in missing_sources, votes count per payload") {
    val df = payloads(Seq(
      ("a", 0, Map("Loto" -> 1L)), ("a", 1, Map("Loto" -> 1L)),
      ("b", 2, Map("Recargado" -> 5L))))
    def byCat(d: DataFrame) = d.collect().map(r => r.getAs[String]("categoria") ->
      (r.getAs[scala.collection.Seq[String]]("winner_sources").toList,
        r.getAs[scala.collection.Seq[String]]("missing_sources").toList)).toMap
    assert(byCat(Consensus.merge(df)) == Map(
      "Loto" -> (List("a", "a"), List("b")),
      "Recargado" -> (List("b"), List("a"))))
    // the window formulation listed the name once per payload row
    assert(byCat(ConsensusOracle.merge(df))("Recargado")._2 == List("a", "a"))
  }
}
