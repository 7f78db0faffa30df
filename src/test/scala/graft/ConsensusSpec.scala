package graft

import com.ibm.icu.lang.UCharacter
import com.ibm.icu.util.ULocale
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.ops.{Consensus, StatePipeline}

/** Consensus semantics pinned by the reference
  * (`tests/test_consensus.py:10-128`, `tests/test_pipeline.py:642-748`). */
class ConsensusSpec extends SparkSpec {
  import SourceStubs.schema

  private def payloads(rows: Row*) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def row(src: String, prio: Int, montos: Map[String, Long]) =
    Row(src, prio, s"https://$src.cl/", s"sha-$src", true, montos, 5417L, "2026-04-26")

  test("majority vote wins") {
    val df = payloads(
      row("a", 0, Map("Loto" -> 1000L)),
      row("b", 1, Map("Loto" -> 1000L)),
      row("c", 2, Map("Loto" -> 1200L)))
    val m = Consensus.merge(df).collect().head
    assert(m.getAs[Long]("valor") == 1000L)
    assert(m.getAs[scala.collection.Seq[String]]("winner_sources").toSeq == Seq("a", "b"))
    assert(m.getAs[Boolean]("has_mismatch"))
    // max_deviation = |1200-1000|/1000 = 0.2
    assert(math.abs(m.getAs[Double]("max_deviation") - 0.2) < 1e-9)
  }

  test("tie broken by registration order: first-registered source wins") {
    val df = payloads(
      row("first", 0, Map("Loto" -> 111L)),
      row("second", 1, Map("Loto" -> 222L)))
    val m = Consensus.merge(df).collect().head
    assert(m.getAs[Long]("valor") == 111L)
  }

  test("total* categories are excluded from voting") {
    val df = payloads(row("a", 0, Map("Loto" -> 10L, "Total estimado" -> 99L)))
    val cats = Consensus.merge(df).collect().map(_.getAs[String]("categoria")).toSet
    assert(cats == Set("Loto"))
  }

  test("ICU: only ASCII TtOoAaLl lowercase to a string starting with t, o, a or l") {
    // Spark's Lower calls ICU's UCharacter.toLowerCase, with the JVM's
    // default locale on the binary collation; ROOT is the locale-free
    // mapping. Whole-string lowercasing is per code point except the
    // Greek final sigma (σ or ς either way), and no code point lowercases
    // to nothing, so lower(s) starts with "total" iff the first five code
    // points of s are ASCII case variants of t, o, t, a, l: what
    // Consensus.notTotal's `^(?i)total` (ASCII-only case folding) tests.
    val scalars = (0 to Character.MAX_CODE_POINT).iterator
      .filterNot(cp => cp >= Character.MIN_SURROGATE && cp <= Character.MAX_SURROGATE)
      .map(cp => new String(Character.toChars(cp)))
    val lowers = Seq[String => String](
      UCharacter.toLowerCase(ULocale.ROOT, _), UCharacter.toLowerCase(_: String))
    val hits = scala.collection.mutable.SortedSet.empty[String]
    var scanned, empty = 0
    for (s <- scalars; lc <- lowers) {
      val l = lc(s)
      if (l.isEmpty) empty += 1
      else if ("toal".indexOf(l.charAt(0)) >= 0) hits += s
      scanned += 1
    }
    assert(scanned == 2 * (Character.MAX_CODE_POINT + 1 - 2048))
    assert(empty == 0)
    assert(hits.mkString == "ALOTalot")
  }

  test("total* filter agrees with lower(c).startsWith on adversarial names") {
    val names = Seq("Total estimado", "TOTAL pozos", "tOtAl", "totales", "Subtotal",
      "\uFF34\uFF2F\uFF34\uFF21\uFF2C", // fullwidth ＴＯＴＡＬ
      "\u0130total", "\u212Aotal", "Kotal", // İtotal, Kelvin-sign Kotal
      "total\u0301", "t\u0301otal", "to\u0307tal", // combining marks
      "\u0162otal", "TOTA", "", null)
    val df = spark.createDataFrame(java.util.Arrays.asList(names.map(Row(_)): _*),
      StructType(Seq(StructField("c", StringType))))
    val got = df.select(col("c"), Consensus.notTotal(col("c")).as("now"),
      ConsensusOracle.notTotal(col("c")).as("ref")).collect()
    assert(got.length == names.length)
    for (r <- got)
      assert(r.get(1) == r.get(2), s"'${r.get(0)}': notTotal=${r.get(1)}, lower-based=${r.get(2)}")
    assert(got.count(r => r.get(1) == false) == 5) // the five total* names
  }

  test("missing sources reported per category") {
    val df = payloads(
      row("a", 0, Map("Loto" -> 10L, "Recargado" -> 5L)),
      row("b", 1, Map("Loto" -> 10L)))
    val byCat = Consensus.merge(df).collect()
      .map(r => r.getAs[String]("categoria") ->
        r.getAs[scala.collection.Seq[String]]("missing_sources").toSeq).toMap
    assert(byCat("Loto") == Seq())
    assert(byCat("Recargado") == Seq("b"))
  }

  test("zero-valued winner → max_deviation 0 (no division by zero)") {
    val df = payloads(
      row("a", 0, Map("Jubilazo" -> 0L)),
      row("b", 1, Map("Jubilazo" -> 0L, "Otro" -> 5L)))
    val m = Consensus.merge(df).collect()
      .map(r => r.getAs[String]("categoria") -> r.getAs[Double]("max_deviation")).toMap
    assert(m("Jubilazo") == 0.0)
  }

  /** [[StatePipeline.scalars]] over the merge of `df`, every payload
    * collected, as `RunPipeline` feeds it. */
  private def scalarsOf(df: org.apache.spark.sql.DataFrame, expectedSources: Int) = {
    val cats = Consensus.merge(df).collect()
    StatePipeline.scalars(cats.length,
      cats.filter(_.getAs[Boolean]("has_mismatch")).map(_.getAs[Double]("max_deviation")).toSeq,
      df.count().toInt, expectedSources)
  }

  test("decision scalars + confidence") {
    val agree = payloads(
      row("a", 0, Map("Loto" -> 10L)), row("b", 1, Map("Loto" -> 10L)))
    assert(scalarsOf(agree, expectedSources = 2) == ((0.0, 0.0, "full")))
    assert(scalarsOf(agree, expectedSources = 3)._3 == "degraded")

    val solo = payloads(row("a", 0, Map("Loto" -> 10L)))
    assert(scalarsOf(solo, expectedSources = 1)._3 == "single_source")

    val disagree = payloads(
      row("a", 0, Map("Loto" -> 10L, "Recargado" -> 5L)),
      row("b", 1, Map("Loto" -> 12L, "Recargado" -> 5L)))
    assert(scalarsOf(disagree, expectedSources = 2) == ((0.5, 0.2, "degraded")))
    assert(StatePipeline.scalars(0, Seq.empty, 1, 1) == ((0.0, 0.0, "single_source")))
  }

  test("disagreeing map lists losing values with voters in vote order") {
    val df = payloads(
      row("a", 0, Map("Loto" -> 1000L)),
      row("b", 1, Map("Loto" -> 1000L)),
      row("c", 2, Map("Loto" -> 1200L)))
    val m = Consensus.merge(df).collect().head
    val dis = m.getAs[Map[String, Seq[String]]]("disagreeing")
    assert(dis == Map("1200" -> Seq("c")))
  }

  test("decision matrix (skip/quarantine/publish/publish_forced)") {
    assert(StatePipeline.decide(unchanged = true, 0.0, 0.0) ==
      (("skip", false, "sorteo_fecha_and_amounts_unchanged")))
    assert(StatePipeline.decide(unchanged = false, 0.3, 0.0)._1 == "quarantine")
    assert(StatePipeline.decide(unchanged = false, 0.0, 0.2)._1 == "quarantine")
    assert(StatePipeline.decide(unchanged = false, 0.1, 0.05) ==
      (("publish", true, "updated_or_new_amounts")))
    assert(StatePipeline.decide(unchanged = true, 0.0, 0.0, forcePublish = true) ==
      (("publish_forced", true, "force_publish_requested")))
    // quarantine beats force when data actually changed
    assert(StatePipeline.decide(unchanged = false, 0.9, 0.0, forcePublish = true)._1 ==
      "quarantine")
  }

  private def rec(sorteo: Option[Long], fecha: String, sha: Option[String],
      amounts: Map[String, Long]): Model.NormalizedRecord = {
    val src = Model.SourceDesc(Some("https://a.cl/"), None, sha, None,
      estimado = true, sorteo, Some(fecha))
    Model.NormalizedRecord(sorteo, Some(fecha), Some("https://a.cl/"), "full",
      Seq.empty, amounts, Model.Provenance(Model.PozosProvenance(src, Seq.empty)))
  }

  test("change detection: sha short-circuit, null-safe keys, map equality") {
    val state = Seq(
      rec(Some(1L), "2026-01-01", Some("sha-a"), Map("Loto" -> 99L)),  // sha match → unchanged
      rec(Some(2L), "2026-01-02", Some("sha-y"), Map("Loto" -> 20L)),  // amounts match → unchanged
      rec(None, "2026-01-03", Some("other"), Map("Loto" -> 30L)),      // null keys match
      rec(Some(4L), "2026-01-04", Some("sha-q"), Map("Loto" -> 41L)),  // differs → changed
      rec(Some(5L), "2026-01-05", None, Map("Loto" -> 50L)))           // no sha on either side
    val cur = Seq(
      rec(Some(1L), "2026-01-01", Some("sha-a"), Map("Loto" -> 10L)),
      rec(Some(2L), "2026-01-02", Some("sha-x"), Map("Loto" -> 20L)),
      rec(None, "2026-01-03", Some("sha-n"), Map("Loto" -> 30L)),
      rec(Some(4L), "2026-01-04", Some("sha-zz"), Map("Loto" -> 40L)),
      rec(Some(5L), "2026-01-05", None, Map("Loto" -> 51L)))
    val got = cur.map(r => r.fecha.get -> StatePipeline.unchanged(state, r)).toMap
    assert(got == Map(
      "2026-01-01" -> true, "2026-01-02" -> true,
      "2026-01-03" -> true, "2026-01-04" -> false, "2026-01-05" -> false))
  }

  test("no state match → changed") {
    val cur = rec(Some(9L), "2026-02-01", Some("s"), Map("Loto" -> 1L))
    assert(!StatePipeline.unchanged(Seq(rec(Some(1L), "2026-01-01", Some("s"), Map("Loto" -> 1L))), cur))
    assert(!StatePipeline.unchanged(Seq.empty, cur))
  }
}
