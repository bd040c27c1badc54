package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ConditionalExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit md5 hash shared by the native expressions — EXACTLY
  * `conv(substr(md5(s),1,15),16,10)::long` (= [[Hashing.hash64]] /
  * the DuckDB oracle fragment): first 15 hex chars of the md5 digest,
  * i.e. the first 8 big-endian bytes as an unsigned value >>> 4.
  */
private object Hash60 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def hash(bytes: Array[Byte]): Long = {
    val d = md.get()
    d.reset()
    val dig = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v >>> 4
  }
}

/** Native SimHash: `simhash60(tokens: array<string>) -> long`.
  *
  * Semantically identical to the nested-HOF formulation (each token's
  * 60-bit hash votes ±1 per bit; bit set iff votes > 0 — see
  * DedupOracles.simhashOracle), but one pass per row: the HOF version is
  * interpreted AND CollapseProject inlines the token-hash array into the
  * per-bit inner aggregate, recomputing every md5 60× (measured 68 s at
  * sf0.1 vs ~1 s native). Null tokens vote -1 on every bit, matching
  * `IF(null, 1, -1)` semantics in the HOF form.
  */
case class SimHash60(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(input: Any): Any =
    SimHashKernel.eval(input.asInstanceOf[ArrayData])

  /** Codegen = one typed static call into the same kernel eval uses: no
    * InternalRow wrapping, no boxing, and the expression stays inside the
    * surrounding whole-stage span (digest cost still dominates; this
    * closes the CodegenFallback question rather than chasing speed).
    */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.SimHashKernel.eval($arr);")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** Static kernel for [[SimHash60]] — top-level object, so Scala emits a
  * static forwarder the generated Java can call directly.
  */
object SimHashKernel {
  def eval(arr: ArrayData): Long = {
    val votes = new Array[Int](60)
    var i = 0
    while (i < arr.numElements()) {
      if (arr.isNullAt(i)) {
        var b = 0; while (b < 60) { votes(b) -= 1; b += 1 }
      } else {
        val h = Hash60.hash(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }
}

/** Native MinHash signature:
  * `minhash_sig(shingles: array<string>, numPerm) -> array<long>`.
  *
  * sig(p) = min over shingles of hash60(p + ":" + shingle) — identical to
  * the transform/array_min HOF form and the DuckDB oracle, one pass,
  * one md5 per (perm, shingle). Null shingles are skipped (array_min
  * ignores nulls); an all-null/empty input yields a null signature slot,
  * matching array_min's null on empty.
  */
case class MinHashSignature(child: Expression, numPerm: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.eval(input.asInstanceOf[ArrayData], numPerm)

  /** Same typed-static-call codegen shape as [[SimHash60]]. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.MinHashKernel.eval($arr, $numPerm);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Static kernel for [[MinHashSignature]] (see [[SimHashKernel]]). */
object MinHashKernel {
  def eval(arr: ArrayData, numPerm: Int): ArrayData = {
    val n = arr.numElements()
    val sig = new Array[Any](numPerm)
    var p = 0
    while (p < numPerm) {
      val prefix = (p.toString + ":").getBytes("UTF-8")
      var min = Long.MaxValue
      var seen = false
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i).getBytes
          val buf = new Array[Byte](prefix.length + s.length)
          System.arraycopy(prefix, 0, buf, 0, prefix.length)
          System.arraycopy(s, 0, buf, prefix.length, s.length)
          val h = Hash60.hash(buf)
          if (h < min) min = h
          seen = true
        }
        i += 1
      }
      sig(p) = if (seen) min else null
      p += 1
    }
    new GenericArrayData(sig)
  }
}

/** Native left-fold dot product:
  * `dot_fold(a: array<double>, b: array<double>) -> double`.
  *
  * Bit-identical to `aggregate(zip_with(a,b,(x,y)->x*y), 0.0d,
  * (acc,x)->acc+x)` (and DuckDB's list_reduce with a prepended 0.0):
  * strictly sequential `acc = acc + a(i)*b(i)` from i=0 — IEEE evaluation
  * order preserved, so oracle hashes still match. Null if lengths differ
  * or any element is null (zip_with pads with null → null sum).
  */
case class DotFold(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_fold"

  /** Nullable even when both children are non-nullable: a length mismatch
    * (or null element) yields null regardless of child nullability. The
    * BinaryExpression default (children's OR) is WRONG here — with
    * non-nullable inputs (e.g. CreateArray of literals) nullSafeCodeGen
    * renders `ev.isNull` as the constant `false`, the mismatch branch
    * generates `false = true;`, and Janino rejects the whole stage
    * ("not an rvalue"), silently dropping the plan to interpreted mode.
    */
  override def nullable: Boolean = true

  /** Whole-stage-codegen body: same strict left-fold loop as eval, so the
    * interpreted and generated paths are bit-identical. Unlike the md5-
    * bound hashes (where digest cost dominates and CodegenFallback is
    * fine), the dot product is pure FP work — staying inside codegen
    * avoids per-row boxing/virtual dispatch in the cosine hot loops.
    */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = ($b.numElements() != $n);
         |double $acc = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotFold =
    copy(left = l, right = r)
}

/** Native integer dot product:
  * `dot_fold_long(a: array<long>, b: array<long>) -> long`.
  *
  * The exact-integer twin of [[DotFold]] for the retrieval dense
  * channel's hashed-TF vectors: identical to `aggregate(zip_with(a, b,
  * (x, y) -> x * y), 0L, (acc, x) -> acc + x)` — integer adds commute,
  * so there is no IEEE-order caveat at all; overflow wraps with Java
  * long semantics exactly like the HOF form. Null if lengths differ or
  * any element is null. The HOF form interprets two lambdas and builds
  * an intermediate array PER PAIR in the channel's candidate loop
  * (queries × corpus rows); this is one primitive loop inside
  * whole-stage codegen (round 15, guide §1.2 per-task work).
  */
case class DotFoldLong(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_fold_long"

  /** Nullable even when both children are non-nullable (see [[DotFold]]). */
  override def nullable: Boolean = true

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = ($b.numElements() != $n);
         |long $acc = 0L;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotFoldLong =
    copy(left = l, right = r)
}

/** Native signature agreement:
  * `sig_agree(a: array<long>, b: array<long>) -> int`.
  *
  * Counts positions where both arrays hold equal non-null longs —
  * semantically identical to `aggregate(zip_with(a, b, (x, y) ->
  * CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)` (a null
  * or padded slot compares not-equal, contributing 0; integer math, so
  * no IEEE-order caveats). This is the MinHash Jaccard-estimator hot
  * loop in the incremental-dedup verify joins: the HOF form builds an
  * intermediate array and interprets two lambdas per row, this is one
  * primitive loop inside whole-stage codegen.
  */
case class SigAgree(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_agree"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** Same strict loop in generated code — integer counting, so the
    * interpreted and codegen paths are trivially identical.
    */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgree =
    copy(left = l, right = r)
}

/** Native product-quantization encode:
  * `pq_encode(emb: array<double>) -> struct<codes: array<long>,
  * qerrs: array<double>>` against a FROZEN codebook carried in the
  * expression (m × k × subDim doubles, flattened — broadcast-sized
  * metadata, never a join side).
  *
  * Replaces the m × k unrolled codeword-distance expressions the wide
  * encode used to build (8 × 64 = 512 `DotFold`s): that shape pays a
  * multi-second janino compile per stage and re-materializes the
  * subspace slice per codeword; this is ONE fused primitive loop behind
  * a typed static call (see [[SimHash60]]) — compile cost is constant
  * in m·k, and whole-stage codegen keeps the row pipeline intact.
  *
  * Bit-identical numerics to the unrolled form (and the DuckDB oracle):
  * per subspace s the squared distance to codeword j is composed as
  * `(x·x − 2·x·c) + c·c` where every dot is a strict ascending left fold
  * from 0.0 (the [[DotFold]] contract); `c·c` is pre-folded once on the
  * driver in the same order. The argmin keeps the FIRST codeword
  * attaining the minimum (strict `<`), matching
  * `array_position(d, array_min(d)) - 1`.
  *
  * Null contract: null struct when the embedding is null, has a length
  * other than m·subDim, or contains a null element — the cases where the
  * unrolled form yielded null `code_s`/`qerr_s` columns.
  */
case class PqEncode(child: Expression, cbFlat: Seq[Double],
                    m: Int, k: Int, subDim: Int)
  extends UnaryExpression {
  require(cbFlat.length == m * k * subDim,
    s"codebook must be m*k*subDim = ${m * k * subDim} doubles, got ${cbFlat.length}")

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("qerrs", ArrayType(DoubleType, containsNull = false), nullable = false)))
  override def prettyName: String = "pq_encode"

  /** Nullable regardless of the child: a length mismatch or null element
    * yields null (same janino `false = true` trap as [[DotFold]]).
    */
  override def nullable: Boolean = true

  @transient private lazy val cbArr: Array[Double] = cbFlat.toArray

  /** c·c per codeword, pre-folded driver-side in [[DotFold]] order. */
  @transient private lazy val ccArr: Array[Double] = {
    val out = new Array[Double](m * k)
    var idx = 0
    while (idx < m * k) {
      var acc = 0.0
      var t = 0
      while (t < subDim) { val v = cbArr(idx * subDim + t); acc += v * v; t += 1 }
      out(idx) = acc
      idx += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    PqEncodeKernel.eval(input.asInstanceOf[ArrayData], cbArr, ccArr, m, k, subDim)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", cbArr, "double[]")
    val ccRef = ctx.addReferenceObj("pqCc", ccArr, "double[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val r = ctx.freshName("pqRow")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.functions.PqEncodeKernel.eval($arr, $cbRef, $ccRef, $m, $k, $subDim);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Static kernel for [[PqEncode]] — shared verbatim by the interpreted
  * and generated paths, so they are trivially bit-identical.
  */
object PqEncodeKernel {
  def eval(arr: ArrayData, cb: Array[Double], cc: Array[Double],
           m: Int, k: Int, subDim: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val n = m * subDim
    if (arr.numElements() != n) return null
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return null; i += 1 }
    val codes = new Array[Long](m)
    val qerrs = new Array[Double](m)
    var s = 0
    while (s < m) {
      val base = s * subDim
      var xx = 0.0
      var t = 0
      while (t < subDim) { val v = arr.getDouble(base + t); xx += v * v; t += 1 }
      var best = Double.PositiveInfinity
      var bestJ = 0
      var j = 0
      while (j < k) {
        val cbase = (s * k + j) * subDim
        var xc = 0.0
        t = 0
        while (t < subDim) { xc += arr.getDouble(base + t) * cb(cbase + t); t += 1 }
        val d = (xx - 2.0 * xc) + cc(s * k + j)
        if (d < best) { best = d; bestJ = j }
        j += 1
      }
      codes(s) = bestJ.toLong
      qerrs(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(codes),
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(qerrs)))
  }
}

/** Native dense hashed-TF vector:
  * `hashed_tf_vec(tokens: array<string>, dims) -> array<long>`.
  *
  * v[d] = count of non-empty tokens with hash60(token) % dims == d —
  * exactly the dense form [[graft.ops.RetrievalOps.denseVectors]] used
  * to derive in TWO shuffles (explode → count by (doc, dim) → re-group
  * by doc → densify). One map-side pass per row instead (round 15,
  * guide §2.4): at 100 TB the per-document vector never shuffles at
  * all until the consumer needs it to. Returns NULL when the row has
  * no valid (non-empty, non-null) token — those docs produced no
  * hashedTf rows, so the exploded form emitted no vector for them;
  * callers filter nulls to keep the document set bit-identical.
  */
case class HashedTfVec(child: Expression, dims: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_tf_vec"

  /** Nullable regardless of the child: an all-empty token array yields
    * null (the same janino `false = true` trap as [[DotFold]]). */
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    HashedTfVecKernel.eval(input.asInstanceOf[ArrayData], dims)

  /** Same typed-static-call codegen shape as [[SimHash60]]. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val r = ctx.freshName("htfRes")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.HashedTfVecKernel.eval($arr, $dims);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HashedTfVec =
    copy(child = newChild)
}

/** Static kernel for [[HashedTfVec]] (see [[SimHashKernel]]). */
object HashedTfVecKernel {
  def eval(arr: ArrayData, dims: Int): ArrayData = {
    val v = new Array[Long](dims)
    var seen = false
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        if (s.numBytes() > 0) {
          v((Hash60.hash(s.getBytes) % dims).toInt) += 1L
          seen = true
        }
      }
      i += 1
    }
    if (!seen) null
    else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(v)
  }
}

/** Native payments decode:
  * `payment_json(value: string, fallback: struct<currency, amount, ts>)`.
  *
  * `fallback` is `from_json(value, <wire schema>)`; this expression
  * returns exactly what it would. A record in the canonical wire form
  * `{"currency":"<c>","amount":<int>,"ts":<int>}` — `<c>` printable
  * ASCII without `"` or `\`, `<int>` either `0` or
  * `-?[1-9][0-9]{0,17}` (so it cannot overflow a long), no whitespace,
  * nothing after the `}` — is decoded by [[PaymentJsonKernel]] in one
  * scan, with no tokenizer. Every other input, null included, is handed
  * to `fallback`, which is evaluated only then. So malformed records,
  * partial results (`"amount":1.5` gives a null amount and keeps the
  * row), reordered, extra or duplicate fields, escapes, `-0`, 19+ digit
  * numbers and non-ASCII keep `from_json`'s PERMISSIVE semantics by
  * construction.
  *
  * A [[ConditionalExpression]] whose only always-evaluated input is
  * `value`, so subexpression elimination never hoists the fallback parse
  * out of its branch.
  */
case class PaymentJson(value: Expression, fallback: Expression)
  extends Expression with ConditionalExpression {
  override def children: Seq[Expression] = Seq(value, fallback)
  override def dataType: DataType = fallback.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "payment_json"

  override def checkInputDataTypes(): TypeCheckResult =
    if (value.dataType == StringType && fallback.dataType == PaymentJsonKernel.wireType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"payment_json needs (string, ${PaymentJsonKernel.wireType.simpleString}), " +
        s"got (${value.dataType.simpleString}, ${fallback.dataType.simpleString})")

  override def alwaysEvaluatedInputs: Seq[Expression] = value :: Nil
  override def withNewAlwaysEvaluatedInputs(inputs: Seq[Expression]): PaymentJson =
    copy(value = inputs.head)
  override def branchGroups: Seq[Seq[Expression]] = Nil

  override def eval(input: InternalRow): Any = {
    val s = value.eval(input)
    val fast = if (s == null) null else PaymentJsonKernel.decode(s.asInstanceOf[UTF8String])
    if (fast != null) fast else fallback.eval(input)
  }

  /** Typed static call into the kernel (see [[SimHash60]]); the
    * fallback's code is emitted inside the miss branch only. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = value.genCode(ctx)
    val f = fallback.genCode(ctx)
    ev.copy(code = code"""
      |${v.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${v.isNull} ? null : graft.functions.PaymentJsonKernel.decode(${v.value});
      |boolean ${ev.isNull} = false;
      |if (${ev.value} == null) {
      |  ${f.code}
      |  ${ev.isNull} = ${f.isNull};
      |  ${ev.value} = ${f.value};
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PaymentJson =
    copy(value = c(0), fallback = c(1))
}

/** Static kernel for [[PaymentJson]]: the canonical-form parser. */
object PaymentJsonKernel {
  /** The struct `from_json` yields for the payments wire schema. */
  val wireType: StructType = StructType(Seq(
    StructField("currency", StringType),
    StructField("amount", LongType),
    StructField("ts", LongType)))

  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private val Open = ascii("{\"currency\":\"")
  private val Amount = ascii("\",\"amount\":")
  private val Ts = ascii(",\"ts\":")
  private val MaxDigits = 18

  /** The decoded `(currency, amount, ts)` row of a canonical record, or
    * null when `s` is not in the canonical form. */
  def decode(s: UTF8String): InternalRow = {
    val n = s.numBytes()
    val from = literal(s, 0, Open)
    if (from < 0) return null
    var p = from
    while (p < n && currencyByte(s.getByte(p))) p += 1
    val to = p
    val amountAt = literal(s, to, Amount)
    if (amountAt < 0) return null
    val amountEnd = intEnd(s, amountAt)
    if (amountEnd < 0) return null
    val tsAt = literal(s, amountEnd, Ts)
    if (tsAt < 0) return null
    val tsEnd = intEnd(s, tsAt)
    if (tsEnd < 0 || tsEnd != n - 1 || s.getByte(tsEnd) != '}') return null
    val currency = new Array[Byte](to - from)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset + from,
      currency, Platform.BYTE_ARRAY_OFFSET, to - from)
    new GenericInternalRow(Array[Any](UTF8String.fromBytes(currency),
      intValue(s, amountAt, amountEnd), intValue(s, tsAt, tsEnd)))
  }

  private def currencyByte(b: Byte): Boolean = b >= 0x20 && b <= 0x7e && b != '"' && b != '\\'

  private def digit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** The position after `lit` if `s` holds it at `p`, else -1. */
  private def literal(s: UTF8String, p: Int, lit: Array[Byte]): Int = {
    if (p + lit.length > s.numBytes()) return -1
    var i = 0
    while (i < lit.length) { if (s.getByte(p + i) != lit(i)) return -1; i += 1 }
    p + lit.length
  }

  /** The end of the integer token `0` or `-?[1-9][0-9]{0,17}` at `p`,
    * else -1. */
  private def intEnd(s: UTF8String, p0: Int): Int = {
    val n = s.numBytes()
    if (p0 < n && s.getByte(p0) == '0') return p0 + 1
    var p = if (p0 < n && s.getByte(p0) == '-') p0 + 1 else p0
    val first = p
    if (p >= n || !digit(s.getByte(p)) || s.getByte(p) == '0') return -1
    while (p < n && digit(s.getByte(p))) p += 1
    if (p - first > MaxDigits) -1 else p
  }

  /** The value of a token [[intEnd]] accepted. */
  private def intValue(s: UTF8String, from: Int, to: Int): Long = {
    val neg = s.getByte(from) == '-'
    var v = 0L
    var p = if (neg) from + 1 else from
    while (p < to) { v = v * 10 + (s.getByte(p) - '0'); p += 1 }
    if (neg) -v else v
  }
}

/** Column-level entry points for the native expressions. */
object native {
  def simhash60(tokens: Column): Column =
    ColumnBridge.column(SimHash60(ColumnBridge.expression(tokens)))
  def minhashSig(shingles: Column, numPerm: Int = 16): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), numPerm))
  def dotFold(a: Column, b: Column): Column =
    ColumnBridge.column(DotFold(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def sigAgree(a: Column, b: Column): Column =
    ColumnBridge.column(SigAgree(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def hashedTfVec(tokens: Column, dims: Int = 64): Column =
    ColumnBridge.column(HashedTfVec(ColumnBridge.expression(tokens), dims))
  def dotFoldLong(a: Column, b: Column): Column =
    ColumnBridge.column(DotFoldLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** [[PaymentJson]]: `fallback` must be `from_json(value, <wire schema>)`. */
  def paymentJson(value: Column, fallback: Column): Column =
    ColumnBridge.column(PaymentJson(ColumnBridge.expression(value), ColumnBridge.expression(fallback)))

  /** PQ encode against a frozen codebook `cb(s)(j) = subvector` (the
    * [[graft.ops.PqOps]] driver-side shape). Flattens to the kernel's
    * row-major layout; geometry is validated here, once.
    */
  def pqEncode(emb: Column, cb: Array[Array[Seq[Double]]], subDim: Int): Column = {
    val m = cb.length
    require(m > 0, "codebook must have at least one subspace")
    val k = cb(0).length
    require(cb.forall(_.length == k), "ragged codebook: unequal k across subspaces")
    require(cb.forall(_.forall(_.length == subDim)),
      s"every codeword must have subDim=$subDim elements")
    val flat: IndexedSeq[Double] =
      cb.iterator.flatMap(_.iterator.flatMap(_.iterator)).toIndexedSeq
    ColumnBridge.column(PqEncode(ColumnBridge.expression(emb), flat, m, k, subDim))
  }
}
