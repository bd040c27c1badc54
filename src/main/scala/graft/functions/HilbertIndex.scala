package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native Hilbert index: `hilbert2(x, y) -> long` (2-D fold) and
  * `hilbertn(array<long>) -> long` (Skilling d-D transform; AIP Conf.
  * Proc. 707, 2004).
  *
  * Same disease as [[SimHash60]], which the 100× ladder exposes:
  * the per-level `withColumn` chain that derived the curve declaratively
  * inlines under CollapseProject into an expression tree that grows
  * multiplicatively per level — at bits=16 the optimizer/codegen phase
  * alone ran for MINUTES when the column was actually evaluated (Bench's
  * count() column-prunes it, which is why the hang never showed there;
  * the clustered WRITE path evaluates it for every row). These kernels
  * are the same exact integer recurrences as O(bits)/O(d·bits) per-row
  * loops — bit-identical outputs (the LayoutOpsSpec grids and the
  * generated DuckDB CTE oracles are unchanged), evaluated inside
  * whole-stage codegen via one static call.
  *
  * Out-of-range coordinates fail loudly (ADVICE r6 — silent high-bit
  * truncation would degrade clustering locality invisibly); a NULL
  * coordinate yields a NULL index (the null-propagation the column
  * formulation had).
  */
case class HilbertIndex2D(left: Expression, right: Expression, bits: Int)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert2"

  override def nullSafeEval(x: Any, y: Any): Any =
    HilbertKernel.eval2(x.asInstanceOf[Long], y.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.HilbertKernel.eval2($x, $y, $bits);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex2D =
    copy(left = newLeft, right = newRight)
}

/** d-dimensional variant over one `array<long>` child (dimensions are
  * packed with `array(...)` by the caller — a map-side CreateArray). */
case class HilbertIndexN(child: Expression, bits: Int)
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbertn"

  /** Nullable regardless of child nullability: a null ELEMENT nulls the
    * index even when the array itself is non-null (the DotFold lesson —
    * a constant-false isNull would make codegen emit `false = true`). */
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    HilbertKernel.evalN(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val r = ctx.freshName("r")
      s"""
         |Object $r = graft.functions.HilbertKernel.evalN($arr, $bits);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Long) $r).longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HilbertIndexN =
    copy(child = newChild)
}

/** Static kernels (top-level object ⇒ static forwarders for codegen).
  * eval2 is the classic 2-D xy→d fold (reflect/swap per level); evalN is
  * Skilling's inverse-undo + Gray encode + transpose interleave — both
  * EXACTLY the recurrences the LayoutOps column chains computed and the
  * generated DuckDB oracles still compute. */
object HilbertKernel {
  def eval2(x0: Long, y0: Long, bits: Int): Long = {
    val n = 1L << bits
    if (x0 < 0L || x0 >= n)
      throw new IllegalArgumentException(
        s"withHilbert: x coordinate out of [0, $n) for bits=$bits: $x0")
    if (y0 < 0L || y0 >= n)
      throw new IllegalArgumentException(
        s"withHilbert: y coordinate out of [0, $n) for bits=$bits: $y0")
    var x = x0
    var y = y0
    var d = 0L
    var s = n >> 1
    while (s > 0L) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * (3L * rx + ry - 2L * rx * ry)
      if (ry == 0L) {
        val nx = if (rx == 1L) (n - 1L) - y else y
        val ny = if (rx == 1L) (n - 1L) - x else x
        x = nx
        y = ny
      }
      s >>= 1
    }
    d
  }

  def evalN(arr: ArrayData, bits: Int): java.lang.Long = {
    val d = arr.numElements()
    // the transpose phase shifts by qb*d + (d-1-j); past 63 total bits
    // Java shift counts wrap mod 64 and the index silently corrupts —
    // fail loud here so direct hilbert.indexN callers (bypassing
    // withHilbertN's require) can't produce garbage keys
    if (d * bits > 63)
      throw new IllegalArgumentException(
        s"HilbertKernel.evalN: d*bits = $d*$bits > 63 — the Hilbert index no " +
          "longer fits one long; reduce bits or dimensions")
    val n = 1L << bits
    val x = new Array[Long](d)
    var i = 0
    while (i < d) {
      if (arr.isNullAt(i)) return null
      val v = arr.getLong(i)
      if (v < 0L || v >= n)
        throw new IllegalArgumentException(
          s"HilbertKernel.evalN: dim$i coordinate out of [0, $n) for bits=$bits: $v")
      x(i) = v
      i += 1
    }
    // phase 1: inverse-undo (i = 0 reduces to the bare invert — t is 0)
    var q = n >> 1
    while (q > 1L) {
      val p = q - 1L
      var j = 0
      while (j < d) {
        if ((x(j) & q) != 0L) x(0) ^= p
        else { val t = (x(0) ^ x(j)) & p; x(0) ^= t; x(j) ^= t }
        j += 1
      }
      q >>= 1
    }
    // phase 2: Gray encode + suffix correction
    var j = 1
    while (j < d) { x(j) ^= x(j - 1); j += 1 }
    var t = 0L
    q = n >> 1
    while (q > 1L) {
      if ((x(d - 1) & q) != 0L) t ^= q - 1L
      q >>= 1
    }
    j = 0
    while (j < d) { x(j) ^= t; j += 1 }
    // phase 3: transpose interleave — bit qb of dim j → qb·d + (d−1−j)
    var idx = 0L
    j = 0
    while (j < d) {
      var qb = 0
      while (qb < bits) {
        idx |= ((x(j) >>> qb) & 1L) << (qb * d + (d - 1 - j))
        qb += 1
      }
      j += 1
    }
    idx
  }
}

/** Column-level entry points. */
object hilbert {
  def index2(x: Column, y: Column, bits: Int): Column =
    ColumnBridge.column(HilbertIndex2D(
      ColumnBridge.expression(x), ColumnBridge.expression(y), bits))
  def indexN(coordsArr: Column, bits: Int): Column =
    ColumnBridge.column(HilbertIndexN(ColumnBridge.expression(coordsArr), bits))
}
