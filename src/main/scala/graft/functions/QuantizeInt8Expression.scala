package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Symmetric int8 quantization + reconstruction metrics as ONE native
  * codegen pass over the vector:
  * `struct<scale double, codes string, mse double, cos_recon double>`.
  *
  * The declarative form (kept as the reference twin in `QuantizeSpec`)
  * paid SIX interpreted array-HOF passes per row (`transform` ×3,
  * `zip_with`-fold ×2, fold ×2 — every lambda eval boxing a double); on
  * a 256-dim corpus that was ~0.6 s of pure interpretation at sf0.1 for
  * 2 k vectors. Here the folds run primitive in one loop.
  * QuantizeSpec pins the two bit-identical.
  *
  * EXACT declarative numerics, in array-position order (the engines'
  * cross-check contract):
  *  - scale = greatest(max_i |e_i|, 1e-12) / 127 — max via
  *    Double.compare (Spark's array_max ordering: -0.0 < 0.0, NaN last);
  *    empty array ⇒ array_max = null ⇒ greatest picks 1e-12;
  *  - q_i = int(greatest(least(round(e_i / scale, 0), 127), -127)) —
  *    round = BigDecimal HALF_UP (Spark's round), so ties go away from
  *    zero exactly as the SQL form;
  *  - recon_i = q_i * scale; mse = round(Σ(e_i − recon_i)² / n, 10).
  *    n = 0 yields NaN here where the declarative form's `/ size(...)`
  *    throws DIVIDE_BY_ZERO under ANSI — the equivalence contract is
  *    dense NON-EMPTY vectors (QuantizeSpec's generator honours it);
  *  - cos_recon = round(Σ e_i·recon_i / (√Σe_i² · √Σrecon_i²), 6) when
  *    both norms are > 0, else NULL (the all-zero guard);
  *  - codes = the q_i joined by ' '.
  *
  * Dense-vector contract: elements must be non-null and the vector
  * non-empty (the embeddings table's shape). A null element THROWS
  * (getDouble would silently read 0.0 where the declarative HOF chain
  * cascades NULL); the empty-vector divergence is documented above. */
case class QuantizeInt8Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = QuantizeInt8Expr.outType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "quantize_int8"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"quantize_int8 requires ARRAY<DOUBLE>, got ${t.catalogString}")
    }

  protected override def nullSafeEval(input: Any): Any =
    QuantizeInt8Expr.quantize(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val helper = QuantizeInt8Expr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = ${childGen.isNull};
      InternalRow ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = (InternalRow) $helper.quantize(${childGen.value});
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8Expr =
    copy(child = newChild)
}

object QuantizeInt8Expr {

  val outType: StructType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", StringType, nullable = false),
    StructField("mse", DoubleType, nullable = false),
    StructField("cos_recon", DoubleType, nullable = true)))

  /** Spark round(_, dp): BigDecimal HALF_UP; NaN/Inf pass through. */
  private def rnd(v: Double, dp: Int): Double =
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(dp, java.math.RoundingMode.HALF_UP).doubleValue()

  def quantize(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    // scale: array_max over |e_i| with Spark's double ordering
    var maxAbs = Double.NaN
    var sawAny = false
    var i = 0
    while (i < n) {
      // dense contract enforced, not assumed (r18 ADVICE): getDouble on a
      // null slot silently reads 0.0 where the declarative HOF chain
      // cascades NULL — fail loudly instead of diverging silently
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        s"quantize_int8: null element at index $i — requires a dense " +
          "non-null ARRAY<DOUBLE> (the embeddings contract)")
      val a = math.abs(arr.getDouble(i))
      if (!sawAny || java.lang.Double.compare(a, maxAbs) > 0) maxAbs = a
      sawAny = true
      i += 1
    }
    val base = if (!sawAny) 1e-12
      else if (java.lang.Double.compare(maxAbs, 1e-12) > 0) maxAbs else 1e-12
    val scale = base / 127.0
    val sb = new java.lang.StringBuilder(n * 4)
    var se = 0.0
    var dot = 0.0
    var ne2 = 0.0
    var nr2 = 0.0
    i = 0
    while (i < n) {
      val e = arr.getDouble(i)
      var r = rnd(e / scale, 0)
      // least/greatest under Spark's double ordering (NaN largest):
      // least(NaN, 127) = 127, so a NaN element clamps to 127
      if (java.lang.Double.compare(r, 127.0) > 0) r = 127.0
      if (java.lang.Double.compare(r, -127.0) < 0) r = -127.0
      val q = r.toInt
      if (i > 0) sb.append(' ')
      sb.append(q)
      val recon = q * scale
      val d = e - recon
      se += d * d
      dot += e * recon
      ne2 += e * e
      nr2 += recon * recon
      i += 1
    }
    val mse = rnd(se / n.toDouble, 10)
    val cos: Any =
      if (ne2 > 0.0 && nr2 > 0.0) java.lang.Double.valueOf(
        rnd(dot / (math.sqrt(ne2) * math.sqrt(nr2)), 6))
      else null
    new GenericInternalRow(Array[Any](rnd(scale, 6),
      UTF8String.fromString(sb.toString), mse, cos))
  }

  /** Column wrapper: expects an ARRAY<DOUBLE> column. */
  def quantizeInt8(vec: Column): Column =
    GraftColumnBridge.column(QuantizeInt8Expr(GraftColumnBridge.expression(vec)))
}
