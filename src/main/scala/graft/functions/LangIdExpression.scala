package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Marker-token language ID as ONE native codegen byte walk.
  *
  * The declarative form (marker scores + argmax, kept as the reference
  * twin in `LangIdSpec`) tokenizes the document once PER LANGUAGE —
  * `filter(toks, t -> t.isin(...))` lambda bodies never CSE with each
  * other (the documented HOF no-CSE trap), so the sf0.1 plan carried FIVE
  * `ws_split(trim(lower(text)))` trees per row, each feeding an
  * INTERPRETED ArrayFilter whose `isin` re-compares every token against
  * every marker — measured 170 µs/doc at sf0.1 (0.85 s for a 5 k-doc
  * corpus the DuckDB oracle scores in 0.13 s). Here the lowered text is
  * walked once: whitespace-delimited tokens (the exact `WsSplitExpr`
  * byte classes) are looked up in a prebuilt token→language-bitmask map
  * and the per-language hit counts accumulate in a 5-slot array.
  *
  * EXACT declarative semantics, pinned property-style by LangIdSpec:
  *  - tokens = `ws_split(trim(lower(text)))`; trim/empty tokens cannot
  *    match a non-empty marker, so the walk just skips empty segments —
  *    scores are invariant to the trim;
  *  - score(lang) = number of TOKEN OCCURRENCES in the marker set
  *    (multiset count, `size(filter(...))`);
  *  - winner = max score, ties broken by ALPHABETICALLY SMALLEST code
  *    (the declarative `array_sort(map_entries(...))` comparator orders
  *    value DESC then key ASC and takes element 0).
  *
  * The child must already be the LOWERED text (the wrapper passes
  * `lower(text)`) so Unicode lowercasing stays Spark's own. */
case class LangIdExpr(child: Expression,
    markers: Seq[(String, Seq[String])]) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "lang_id_pick"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lang_id_pick requires STRING, got ${child.dataType.catalogString}")

  @transient private lazy val table = LangIdExpr.Table(markers)

  protected override def nullSafeEval(input: Any): Any =
    table.pick(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val tableRef = ctx.addReferenceObj("langIdTable", table,
      classOf[LangIdExpr.Table].getName)
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = ${childGen.isNull};
      UTF8String ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $tableRef.pick(${childGen.value});
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}

object LangIdExpr {

  /** Prebuilt lookup state: token → bitmask of marker-set membership,
    * languages in ALPHABETICAL order so the argmax tiebreak is a strict
    * `>` during one forward pass. Built once per task via
    * `addReferenceObj` (serialized with the plan). */
  final case class Table(markers: Seq[(String, Seq[String])]) {
    // alphabetical language order; remember nothing else about input order
    private val langs: Array[UTF8String] =
      markers.map(_._1).sorted.map(UTF8String.fromString).toArray
    @transient private lazy val byToken: java.util.HashMap[UTF8String, Int] = {
      val idx = markers.map(_._1).sorted.zipWithIndex.toMap
      val m = new java.util.HashMap[UTF8String, Int]()
      markers.foreach { case (lang, toks) =>
        val bit = 1 << idx(lang)
        toks.foreach { t =>
          val k = UTF8String.fromString(t)
          m.put(k, m.getOrDefault(k, 0) | bit)
        }
      }
      m
    }

    private val maxLen: Int =
      markers.iterator.flatMap(_._2).map(_.getBytes("UTF-8").length).max

    private def isWs(b: Byte): Boolean =
      b == 0x20 || (b >= 0x09 && b <= 0x0D)

    def pick(s: UTF8String): UTF8String = {
      val bytes = s.getBytes
      val n = bytes.length
      val scores = new Array[Int](langs.length)
      var i = 0
      while (i < n) {
        if (isWs(bytes(i))) i += 1
        else {
          val start = i
          while (i < n && !isWs(bytes(i))) i += 1
          // tokens longer than any marker can't match; markers are short
          if (i - start <= maxLen) {
            val mask = byToken.get(UTF8String.fromBytes(bytes, start, i - start))
            if (mask != 0) {
              var b = mask
              while (b != 0) {
                val j = java.lang.Integer.numberOfTrailingZeros(b)
                scores(j) += 1
                b &= b - 1
              }
            }
          }
        }
      }
      // max score, first (= alphabetically smallest) wins ties
      var best = 0
      var j = 1
      while (j < scores.length) {
        if (scores(j) > scores(best)) best = j
        j += 1
      }
      langs(best)
    }
  }

  /** Column wrapper over RAW text: lowering stays Spark's `lower`. */
  def pick(text: Column, markers: Seq[(String, Seq[String])]): Column =
    GraftColumnBridge.column(LangIdExpr(
      GraftColumnBridge.expression(org.apache.spark.sql.functions.lower(text)),
      markers))
}
