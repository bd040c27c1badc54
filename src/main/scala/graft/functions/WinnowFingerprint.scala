package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling-hash document fingerprint (winnowing-style):
  * `winnow60(text) -> long` = min over all `W`-byte windows of the
  * polynomial hash h(s) = fold(h*B + byte) mod P, with B=257,
  * P=2^31-1 (products stay < 2^40 — no overflow divergence between
  * engines). Texts shorter than the window hash as one whole-text window.
  *
  * Native O(n) via the Rabin-Karp rolling update
  * h' = (h - s[i]*B^(W-1))*B + s[i+W] mod P, which equals the per-window
  * naive fold the DuckDB oracle computes — so values hash-match exactly.
  * This is the streaming-friendly content-defined fingerprint for chunk
  * dedup: one pass, constant memory per document.
  *
  * Encoding-stable: both sides hash UTF-8 BYTES — the JVM side walks the
  * UTF8String's backing bytes directly (Spark strings are already UTF-8;
  * no String/char decode at all), and the DuckDB oracle extracts bytes of
  * `encode(text)` via hex pairs. Identical for ASCII, and identical for
  * any non-ASCII text too (unlike the previous UTF-16-code-unit variant).
  */
case class Winnow60(child: Expression, window: Int)
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "winnow60"

  override def nullSafeEval(input: Any): Any =
    Winnow60.fingerprint(input.asInstanceOf[UTF8String].getBytes, window)

  override protected def withNewChildInternal(newChild: Expression): Winnow60 =
    copy(child = newChild)

  /** Codegen body — same rolling loop as eval (pure integer/byte work, so
    * unlike the md5-bound hashes this one benefits from staying inside
    * whole-stage codegen).
    */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val s = ctx.freshName("s")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val min = ctx.freshName("min")
      val B = Winnow60.B
      val P = Winnow60.P
      val bPow = Winnow60.bPow(window)
      s"""
         |byte[] $s = $input.getBytes();
         |int $n = $s.length;
         |long $h = 0L;
         |if ($n <= $window) {
         |  for (int $j = 0; $j < $n; $j++) {
         |    $h = ($h * ${B}L + ($s[$j] & 0xff)) % ${P}L;
         |  }
         |  ${ev.value} = $h;
         |} else {
         |  for (int $j = 0; $j < $window; $j++) {
         |    $h = ($h * ${B}L + ($s[$j] & 0xff)) % ${P}L;
         |  }
         |  long $min = $h;
         |  for (int $i = 0; $i + $window < $n; $i++) {
         |    $h = (($h - ($s[$i] & 0xff) * ${bPow}L % ${P}L + ${P}L) % ${P}L * ${B}L
         |          + ($s[$i + $window] & 0xff)) % ${P}L;
         |    if ($h < $min) $min = $h;
         |  }
         |  ${ev.value} = $min;
         |}
       """.stripMargin
    })
}

object Winnow60 {
  val DefaultWindow = 32
  private[functions] val P = 2147483647L  // 2^31 - 1
  private[functions] val B = 257L

  /** B^(W-1) mod P, for the rolling subtract-leading-byte step. */
  private[functions] def bPow(window: Int): Long = {
    var r = 1L; var i = 0
    while (i < window - 1) { r = r * B % P; i += 1 }
    r
  }

  /** The interpreted fingerprint over raw UTF-8 bytes — shared by eval and
    * callers that want the JVM-side value (tests, streaming state).
    */
  def fingerprint(bytes: Array[Byte], window: Int = DefaultWindow): Long = {
    val n = bytes.length
    if (n <= window) {
      var h = 0L; var j = 0
      while (j < n) { h = (h * B + (bytes(j) & 0xff)) % P; j += 1 }
      h
    } else {
      val bp = bPow(window)
      var h = 0L; var j = 0
      while (j < window) { h = (h * B + (bytes(j) & 0xff)) % P; j += 1 }
      var min = h
      var i = 0
      while (i + window < n) {
        // remove bytes(i), append bytes(i+window); keep everything in [0, P)
        h = ((h - (bytes(i) & 0xff) * bp % P + P) % P * B + (bytes(i + window) & 0xff)) % P
        if (h < min) min = h
        i += 1
      }
      min
    }
  }

  def winnow60(text: Column, window: Int = DefaultWindow): Column =
    ColumnBridge.column(Winnow60(ColumnBridge.expression(text), window))

}
