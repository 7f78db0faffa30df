package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.Consensus

/** `Consensus.merge` and `Consensus.mergeAll` against their reference twin
  * [[ConsensusOracle]] (the window formulation) on random payload sets:
  * one to four sources, each with its own priority, amounts drawn from a
  * small pool so values collide and vote counts tie; empty payloads,
  * total*-only payloads and zero or negative winners all occur, and so do
  * mixed-case total* names and non-ASCII look-alikes the filter keeps. */
class ConsensusPropertySpec extends JobCounting {
  import ConsensusPropertySpec._

  private def payloads(ps: Seq[Payload]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ps.map { case (n, prio, m) =>
      Row(n, prio, s"https://$n.cl/", s"sha-$n", true, m, 5417L, "2026-04-26")
    }: _*), SourceStubs.schema)

  /** The payloads as one row of one array column `p`, a local relation. */
  private def payloadArray(ps: Seq[Payload]): DataFrame = {
    val elem = StructType(SourceStubs.schema.filter(f =>
      Set("source_name", "priority", "montos")(f.name)))
    spark.createDataFrame(
      java.util.Arrays.asList(Row(ps.map { case (n, prio, m) => Row(n, prio, m) })),
      StructType(Seq(StructField("p", ArrayType(elem)))))
  }

  /** Every output field, the disagreement map as ordered keys and values
    * (its order is the report's byte order). */
  private def fields(get: String => Column): Seq[Column] = Seq(get("categoria"),
    get("valor"), get("winner_sources"), get("n_candidates"),
    map_keys(get("disagreeing")), map_values(get("disagreeing")),
    get("max_deviation"), get("missing_sources"), get("has_mismatch"))

  private def norm(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case r: Row => r.toSeq.map(norm).toList
    case x => x
  }

  /** [[fields]] of every row, rows by categoria. */
  private def rows(df: DataFrame): List[List[Any]] =
    df.select(fields(col): _*).collect().toList.map(_.toSeq.map(norm).toList)
      .sortBy(_.head.toString)

  /** [[fields]] of every element of `mergeAll` over [[payloadArray]], in
    * the array's order, and the number of Spark jobs that took. */
  private def local(ps: Seq[Payload], tag: String): (List[Any], Int) =
    jobs(tag)(payloadArray(ps)
      .select(transform(Consensus.mergeAll(col("p")), e => struct(fields(e.getField): _*)))
      .head().getSeq[Row](0).toList.map(norm))

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

  test("mergeAll over a one-row local relation matches the oracle and runs no job") {
    var n = 0
    val prop = Prop.forAll(payloadSet) { ps =>
      n += 1
      val (got, jobCount) = local(ps, s"local-$n")
      val want = rows(ConsensusOracle.merge(payloads(ps)))
      Prop(got == want && jobCount == 0) :|
        s"payloads=$ps\n got=$got\nwant=$want\njobs=$jobCount"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("merge is bit-identical whatever order and partitioning the payloads arrive in") {
    val prop = Prop.forAll(payloadSet, Gen.long, Gen.long) { (ps, s1, s2) =>
      def json(shuffleSeed: Long, parts: Int): List[String] =
        Consensus.merge(payloads(new scala.util.Random(shuffleSeed).shuffle(ps))
          .repartition(parts)).toJSON.collect().toList
      val base = Consensus.merge(payloads(ps)).toJSON.collect().toList
      val one = json(s1, 1)
      val four = json(s2, 4)
      Prop(one == base && four == base) :| s"payloads=$ps\nbase=$base\n one=$one\nfour=$four"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("no payloads, or only total* and empty ones, give an empty result") {
    val none = Seq.empty[Payload]
    val totalsOnly = Seq(("a", 0, Map("Total estimado" -> 9L)),
      ("b", 1, Map("TOTAL pozos" -> 9L, "total" -> 1L)), ("c", 2, Map.empty[String, Long]))
    for ((ps, name) <- Seq(none -> "none", totalsOnly -> "totals")) {
      assert(Consensus.merge(payloads(ps)).collect().isEmpty, name)
      assert(local(ps, s"empty-$name") == (Nil, 0), name)
    }
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

object ConsensusPropertySpec {

  /** (source_name, priority, montos). */
  type Payload = (String, Int, Map[String, Long])

  /** Kept categories, total* look-alikes among them: fullwidth, a
    * non-ASCII first letter, "total" not at the start. */
  private val categories = Seq("Loto Clásico", "Recargado", "Revancha", "Jubilazo",
    "ＴＯＴＡＬ", "İtotal", "Subtotal")
  private val totals = Seq("Total estimado", "TOTAL pozos", "tOtAl x")
  private val amount = Gen.oneOf(-7L, 0L, 5L, 1000L, 1200L)

  private def amountsFor(cats: Seq[String]): Gen[Map[String, Long]] =
    Gen.sequence[List[Option[(String, Long)]], Option[(String, Long)]](cats.map(c =>
      Gen.option(amount.map(c -> _)))).map(_.flatten.toMap)

  private val montos: Gen[Map[String, Long]] = Gen.frequency(
    1 -> Gen.const(Map.empty[String, Long]),
    1 -> amountsFor(totals),
    6 -> amountsFor(categories ++ totals))

  /** One to four sources, each with its own priority. */
  val payloadSet: Gen[Seq[Payload]] = for {
    n <- Gen.choose(1, 4)
    prios <- Gen.pick(n, 0 until 8)
    ms <- Gen.listOfN(n, montos)
  } yield prios.toList.zip(ms).zipWithIndex.map { case ((p, m), i) => (s"s$i", p, m) }
}
