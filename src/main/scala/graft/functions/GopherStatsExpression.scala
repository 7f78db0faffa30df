package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Gopher rule-battery raw counts as TWO native byte walks (one over the
  * original text for line/symbol features, one over the lowered text for
  * word features) emitting every count the rule ratios need:
  * `struct<n_words, sum_word_chars, n_symbols, n_lines, n_bullet_lines,
  * n_ellipsis_lines, n_alpha_words, n_stopwords>` (all longs).
  *
  * The declarative form (kept as the reference twin in `GopherStatsSpec`)
  * paid interpreted lambda passes per WORD (`rlike("[a-z]")`, a
  * `+ length` fold) and per LINE (two anchored rlikes) plus three
  * full-text `regexp_replace`s and an `array_intersect` — ~10 passes,
  * several through java.util.regex per token. GopherStatsSpec pins the
  * two bit-identical.
  *
  * EXACT declarative semantics:
  *  - words = `ws_split(trim(lower(text)))` (space-only trim, boundary
  *    empties kept); `sum_word_chars` sums CHARACTER lengths of the
  *    lowered tokens; `n_alpha_words` counts tokens containing an ASCII
  *    `[a-z]` byte (lowered, so the regex class is literal);
  *  - `n_stopwords` = DISTINCT members of the Gopher stopword set among
  *    the tokens (the `array_intersect(array_distinct(w), set)` image);
  *  - `n_symbols` = '#' count + non-overlapping "..." count + '…' count
  *    over the ORIGINAL text (the regexp_replace length-difference
  *    image; `…` is one char so the char-length difference is its
  *    occurrence count);
  *  - lines = `split(text, '\n')` over the ORIGINAL text (trailing
  *    empties kept: n_lines = '\n' count + 1); a bullet line starts with
  *    `-`, `*` or `•`; an ellipsis line matches `(\.\.\.|…)$` — Java's
  *    `$` also matches before one final line terminator, so a trailing
  *    `\r` is stepped over exactly once. */
case class GopherStatsExpr(child: Expression,
    stopwords: Seq[String]) extends UnaryExpression {

  override def dataType: DataType = GopherStatsExpr.outType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "gopher_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gopher_stats requires STRING, got ${child.dataType.catalogString}")

  @transient private lazy val table = GopherStatsExpr.Table(stopwords)

  protected override def nullSafeEval(input: Any): Any =
    table.scan(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val tableRef = ctx.addReferenceObj("gopherTable", table,
      classOf[GopherStatsExpr.Table].getName)
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = ${childGen.isNull};
      InternalRow ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = (InternalRow) $tableRef.scan(${childGen.value});
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): GopherStatsExpr =
    copy(child = newChild)
}

object GopherStatsExpr {

  val outType: StructType = StructType(Seq(
    "n_words", "sum_word_chars", "n_symbols", "n_lines", "n_bullet_lines",
    "n_ellipsis_lines", "n_alpha_words", "n_stopwords")
    .map(f => StructField(f, LongType, nullable = false)))

  final case class Table(stopwords: Seq[String]) {
    @transient private lazy val stopSet: java.util.HashMap[UTF8String, Integer] = {
      val m = new java.util.HashMap[UTF8String, Integer]()
      stopwords.zipWithIndex.foreach { case (w, i) =>
        m.put(UTF8String.fromString(w), Integer.valueOf(i))
      }
      m
    }
    private val maxStopLen: Int =
      stopwords.map(_.getBytes("UTF-8").length).max

    private def isWs(b: Byte): Boolean =
      b == 0x20 || (b >= 0x09 && b <= 0x0D)
    private def isAlpha(b: Byte): Boolean = b >= 'a' && b <= 'z'

    def scan(s: UTF8String): InternalRow = {
      // --- pass 1: ORIGINAL bytes — symbols and lines ---
      val ob = s.getBytes
      val on = ob.length
      var nHash = 0L
      var nDdd = 0L
      var nHellip = 0L
      var nLines = 1L
      var nBullet = 0L
      var nEllLine = 0L
      var lineStart = 0
      var i = 0
      def isHellipAt(p: Int): Boolean =
        p + 2 < on && ob(p) == 0xE2.toByte && ob(p + 1) == 0x80.toByte &&
          ob(p + 2) == 0xA6.toByte
      def closeLine(endExcl: Int): Unit = {
        // bullet: first char of the line is '-', '*', or '•' (E2 80 A2)
        if (lineStart < endExcl) {
          val b0 = ob(lineStart)
          val bullet3 = b0 == 0xE2.toByte && lineStart + 2 < endExcl &&
            ob(lineStart + 1) == 0x80.toByte && ob(lineStart + 2) == 0xA2.toByte
          if (b0 == '-' || b0 == '*' || bullet3) nBullet += 1L
        }
        // ellipsis end: Java regex `$` (non-MULTILINE) matches before ONE
        // final line terminator — \r, but also U+0085 (C2 85), U+2028
        // (E2 80 A8), U+2029 (E2 80 A9); \n can't appear (it is the line
        // separator of this walk). r18 ADVICE: stepping over only \r broke
        // bit-equivalence with the rlike oracle on a '… ' line end.
        var e = endExcl
        if (e > lineStart && ob(e - 1) == '\r') e -= 1
        else if (e - 2 >= lineStart && ob(e - 2) == 0xC2.toByte &&
          ob(e - 1) == 0x85.toByte) e -= 2
        else if (e - 3 >= lineStart && ob(e - 3) == 0xE2.toByte &&
          ob(e - 2) == 0x80.toByte &&
          (ob(e - 1) == 0xA8.toByte || ob(e - 1) == 0xA9.toByte)) e -= 3
        val ddd = e - 3 >= lineStart && ob(e - 1) == '.' &&
          ob(e - 2) == '.' && ob(e - 3) == '.'
        val hel = e - 3 >= lineStart && isHellipAt(e - 3)
        if (ddd || hel) nEllLine += 1L
      }
      while (i < on) {
        val b = ob(i)
        if (b == '#') { nHash += 1L; i += 1 }
        else if (b == '.' && i + 2 < on && ob(i + 1) == '.' && ob(i + 2) == '.') {
          nDdd += 1L; i += 3   // non-overlapping, left-to-right
        }
        else if (isHellipAt(i)) { nHellip += 1L; i += 3 }
        else if (b == '\n') {
          closeLine(i); nLines += 1L; lineStart = i + 1; i += 1
        }
        else i += 1
      }
      closeLine(on)
      // --- pass 2: LOWERED bytes — word features ---
      val lb = s.toLowerCase.getBytes
      var lo = 0
      var hi = lb.length
      while (lo < hi && lb(lo) == 0x20) lo += 1
      while (hi > lo && lb(hi - 1) == 0x20) hi -= 1
      var nWords = 1L
      var sumChars = 0L
      var nAlphaWords = 0L
      var stopMask = 0L
      var j = lo
      while (j < hi) {
        if (isWs(lb(j))) j += 1
        else {
          val start = j
          var hasAlpha = false
          var chars = 0L
          while (j < hi && !isWs(lb(j))) {
            if (isAlpha(lb(j))) hasAlpha = true
            if ((lb(j) & 0xC0) != 0x80) chars += 1L
            j += 1
          }
          sumChars += chars
          if (hasAlpha) nAlphaWords += 1L
          if (j - start <= maxStopLen) {
            val idx = stopSet.get(UTF8String.fromBytes(lb, start, j - start))
            if (idx != null) stopMask |= 1L << idx.intValue()
          }
        }
      }
      // ws runs inside the trimmed region = words − 1
      var runs = 0L
      var inWs = false
      var k = lo
      while (k < hi) {
        val ws = isWs(lb(k))
        if (ws && !inWs) runs += 1L
        inWs = ws
        k += 1
      }
      nWords = runs + 1L
      new GenericInternalRow(Array[Any](nWords, sumChars,
        nHash + nDdd + nHellip, nLines, nBullet, nEllLine, nAlphaWords,
        java.lang.Long.bitCount(stopMask).toLong))
    }
  }

  /** Column wrapper over RAW text (lowering happens inside, via
    * UTF8String.toLowerCase — the same routine Spark's `lower` calls). */
  def gopherStats(text: Column, stopwords: Seq[String]): Column =
    GraftColumnBridge.column(GopherStatsExpr(
      GraftColumnBridge.expression(text), stopwords))
}
