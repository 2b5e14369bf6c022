package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native candidate-pair match primitives — the inner loops of the dedup
  * rescoring joins, replacing interpreted `aggregate`/`zip_with`/`split`
  * lambda chains (CodegenFallback + per-row array allocation) with fused
  * primitive loops, the same escalation as [[VecDot]].
  *
  * Each expression is RESULT-IDENTICAL to the HOF form it replaces
  * (pinned in `MatchExpressionsSpec`); the DuckDB oracles replay the HOF
  * semantics, so equivalence is also re-proven by the hash gate every
  * round.
  */

/** Exact integer dot product Σ x_i·y_i over two integer arrays as a
  * LONG — [[graft.llm.Similarity.int8Dot]]'s
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, +)`: NULL if the
  * lengths differ (zip_with's null padding nulls the sum) or any element
  * is NULL. Each product is widened to long BEFORE multiplying: the
  * type check admits any array<int>, and for inputs outside the int8
  * range the int·int product would silently wrap where the ANSI
  * zip_with form raises — widening gives the mathematically exact
  * result instead of either failure (the long sum cannot overflow
  * below ~2³¹ full-range int products). Identical to the HOF form on
  * every input the HOF form accepts. */
case class IntVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "int_vec_dot"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<int> arguments, got ${l.sql} and ${r.sql}")
    }

  /** public: called from generated code; null boxed for the null path. */
  def dot(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getInt(i).toLong * y.getInt(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r == null) null else r.longValue()
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("intVecDot", this, classOf[IntVecDot].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Long ${ev.value}_r = $ref.dot($a, $b);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntVecDot =
    copy(left = newLeft, right = newRight)
}

/** Count of positions where two arrays hold EQUAL non-null elements —
  * the minhash signature-agreement estimator
  * `size(filter(zip_with(a, b, (x, y) -> x = y), m -> m))`: positions
  * past the shorter array (zip_with's null padding) and positions with a
  * NULL element compare to NULL and are dropped by the filter, so they
  * never count. Never NULL itself. */
case class ArrayEqCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "array_eq_count"
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  private def elemOk(t: DataType): Boolean = t match {
    case StringType | IntegerType | LongType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _)) if l == r && elemOk(l) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two arrays of the same string/int/long " +
          s"element type, got ${l.sql} and ${r.sql}")
    }

  @transient private lazy val elemType =
    left.dataType.asInstanceOf[ArrayType].elementType

  /** public: called from generated code. */
  def eqCount(x: ArrayData, y: ArrayData): Int = {
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    elemType match {
      case StringType =>
        while (i < n) {
          if (!x.isNullAt(i) && !y.isNullAt(i) &&
            x.getUTF8String(i) == y.getUTF8String(i)) c += 1
          i += 1
        }
      case IntegerType =>
        while (i < n) {
          if (!x.isNullAt(i) && !y.isNullAt(i) &&
            x.getInt(i) == y.getInt(i)) c += 1
          i += 1
        }
      case LongType =>
        while (i < n) {
          if (!x.isNullAt(i) && !y.isNullAt(i) &&
            x.getLong(i) == y.getLong(i)) c += 1
          i += 1
        }
    }
    c
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    eqCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("arrayEqCount", this,
      classOf[ArrayEqCount].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.eqCount($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayEqCount =
    copy(left = newLeft, right = newRight)
}

/** Number of distinct non-null values two arrays have in common —
  * `size(array_intersect(a, b))` for arrays without NULLs, the
  * shingle-set intersection |A∩B| of the exact rescorers, over the
  * k-word strings or their binary md5 keys. One hash set over the
  * shorter array, so O(|a| + |b|) for both: `array_intersect` falls
  * back to pairwise comparison on binary elements, O(|a|·|b|). Binary
  * elements compare by content. Parity with `array_intersect` is pinned
  * in `CurationIdentitySpec`. */
case class SetIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "set_intersect_size"
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if l == r && (l == StringType || l == BinaryType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two arrays of the same string or binary " +
          s"element type, got ${l.sql} and ${r.sql}")
    }

  @transient private lazy val binary =
    left.dataType.asInstanceOf[ArrayType].elementType == BinaryType

  /** A hashable, content-compared key for element `i`. */
  private def key(x: ArrayData, i: Int): AnyRef =
    if (binary) java.nio.ByteBuffer.wrap(x.getBinary(i))
    else x.getUTF8String(i)

  /** public: called from generated code. */
  def intersectSize(x: ArrayData, y: ArrayData): Int = {
    val (small, large) =
      if (x.numElements() <= y.numElements()) (x, y) else (y, x)
    val set = new java.util.HashSet[AnyRef](small.numElements() * 2)
    var i = 0
    while (i < small.numElements()) {
      if (!small.isNullAt(i)) set.add(key(small, i))
      i += 1
    }
    var c = 0
    i = 0
    while (i < large.numElements()) {
      // remove: a value repeated in `large` counts once
      if (!large.isNullAt(i) && set.remove(key(large, i))) c += 1
      i += 1
    }
    c
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    intersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("setIntersectSize", this,
      classOf[SetIntersectSize].getName)
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = $ref.intersectSize($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SetIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** Character Hamming distance over the common prefix length of two
  * strings — the simhash-bitstring rescore
  * `size(filter(zip_with(split(a, ''), split(b, ''), (x, y) -> x != y),
  * d -> d))` without the two per-row char arrays: positions past the
  * shorter string compare to NULL under zip_with's padding and are
  * dropped, so only the first min(len) positions count. Comparison is by
  * UTF-16 code unit — identical to the split-based form for the ASCII
  * '0'/'1' signatures this rescores, with one deliberate divergence: an
  * EMPTY string yields 0 (no positions), where the split form's
  * `split('', '') = ['']` artifact would count 1 against a non-empty
  * peer. Signatures are fixed-width in every caller. */
case class StringHamming(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "string_hamming"
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two string arguments, got ${l.sql} and ${r.sql}")
    }

  /** public: called from generated code. */
  def hamming(a: UTF8String, b: UTF8String): Int = {
    val x = a.toString
    val y = b.toString
    val n = math.min(x.length, y.length)
    var c = 0
    var i = 0
    while (i < n) {
      if (x.charAt(i) != y.charAt(i)) c += 1
      i += 1
    }
    c
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    hamming(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stringHamming", this,
      classOf[StringHamming].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.hamming($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StringHamming =
    copy(left = newLeft, right = newRight)
}

/** Hyperplane-LSH signature string in ONE pass —
  * [[graft.llm.Similarity.lshSignature]]'s
  * `concat(guard, when(vec_dot(emb, plane_p) >= 0, "1", "0") …)` chain
  * fused: the per-plane form inlines `planes` separate VecDot loops into
  * one generated method, which blows past the JIT's method-size budget
  * and runs interpreted (measured ~200x slower at 48 planes — 0.9s for
  * 4k rows). Here the ±1 sign matrix ([[graft.llm.Similarity.planeSign]],
  * reproducible MD5-parity constants) is a reference object and all
  * projections accumulate in a single dim-major loop.
  *
  * Result-identical to the composable form (pinned in
  * `MatchExpressionsSpec`), including the edges: a row whose width
  * disagrees with `dim` raises (silent misbucketing would be worse), and
  * a NULL element yields the all-'0' signature — every per-plane
  * projection in the HOF form goes NULL and `when(null >= 0, …)` takes
  * the otherwise branch for every plane. One documented divergence: a
  * NULL ARRAY null-propagates here (standard unary-expression
  * semantics), where the composed guard's `size(NULL)` sends
  * raise_error a NULL message and throws — every caller filters null
  * embeddings before the signature, so the case is unreachable there,
  * and null-in/null-out is the saner contract for new callers. */
case class LshSignature(child: Expression, planes: Int, dim: Int)
    extends UnaryExpression {

  override def prettyName: String = "lsh_signature"
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case o => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> argument, got ${o.sql}")
  }

  /** signs(p * dim + d) = planeSign(d, p) — computed once driver-side,
    * shipped with the expression. */
  @transient private lazy val signs: Array[Double] =
    Array.tabulate(planes * dim)(i =>
      graft.llm.Similarity.planeSign(i % dim, i / dim))

  @transient private lazy val childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** public: called from generated code. */
  def sig(x: ArrayData): UTF8String = {
    val n = x.numElements()
    if (n != dim) throw new IllegalStateException(
      s"lshSignature built for $dim-dim embeddings, got $n")
    val out = new Array[Byte](planes)
    var d = 0
    while (d < n) {
      if (x.isNullAt(d)) {
        // HOF parity: one NULL element nulls every projection, and
        // when(null >= 0) emits '0' for every plane
        java.util.Arrays.fill(out, '0'.toByte)
        return UTF8String.fromBytes(out)
      }
      d += 1
    }
    var p = 0
    while (p < planes) {
      var acc = 0.0
      val base = p * dim
      var i = 0
      while (i < dim) {
        val v = if (childIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
        acc += v * signs(base + i)
        i += 1
      }
      out(p) = if (acc >= 0) '1'.toByte else '0'.toByte
      p += 1
    }
    UTF8String.fromBytes(out)
  }

  override def nullSafeEval(a: Any): Any = sig(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshSignature", this,
      classOf[LshSignature].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.sig($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): LshSignature = copy(child = newChild)
}

/** Signed random projection (Achlioptas ±1 / Johnson–Lindenstrauss):
  * out_k = Σ_d sign(d, k) · x_d for k < outDim, with the ±1 matrix from
  * the same MD5-parity constants as [[LshSignature]]
  * ([[graft.llm.Similarity.planeSign]] — reproducible on any cluster, no
  * RNG state). No 1/√outDim scaling: every downstream use is cosine,
  * which is scale-invariant, and both engines then agree bit-for-bit
  * without a shared constant.
  *
  * One dim-major fused loop per row (the per-plane HOF form would build
  * outDim interpreted `aggregate` lambdas); a row whose width disagrees
  * with `dim` raises (a silently truncated projection would mis-rank
  * neighbors), a NULL element null-propagates the whole projection
  * (cosine over a partial sum is meaningless), and a NULL array is NULL
  * (standard unary-expression semantics). */
case class SignedProjection(child: Expression, outDim: Int, dim: Int)
    extends UnaryExpression {
  require(outDim > 0 && dim > 0,
    s"signed_projection needs outDim > 0 and dim > 0, got $outDim/$dim")

  override def prettyName: String = "signed_projection"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case o => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> argument, got ${o.sql}")
  }

  /** signs(k * dim + d) = planeSign(d, k) — computed once driver-side,
    * shipped with the expression (same layout as [[LshSignature]]). */
  @transient private lazy val signs: Array[Double] =
    Array.tabulate(outDim * dim)(i =>
      graft.llm.Similarity.planeSign(i % dim, i / dim))

  @transient private lazy val childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** public: called from generated code. Null (boxed) when any element is
    * NULL. */
  def project(x: ArrayData): Any = {
    val n = x.numElements()
    if (n != dim) throw new IllegalStateException(
      s"signed_projection built for $dim-dim embeddings, got $n")
    var d = 0
    while (d < n) {
      if (x.isNullAt(d)) return null
      d += 1
    }
    val out = new Array[Double](outDim)
    var k = 0
    while (k < outDim) {
      var acc = 0.0
      val base = k * dim
      var i = 0
      while (i < dim) {
        val v = if (childIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
        acc += v * signs(base + i)
        i += 1
      }
      out(k) = acc
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = project(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signedProjection", this,
      classOf[SignedProjection].getName)
    nullSafeCodeGen(ctx, ev, a => s"""
      Object ${ev.value}_o = $ref.project($a);
      if (${ev.value}_o == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) ${ev.value}_o;
      }""")
  }

  override protected def withNewChildInternal(
      newChild: Expression): SignedProjection = copy(child = newChild)
}

object MatchExpressions {
  def intVecDot(a: Column, b: Column): Column =
    ColumnBridge.column(IntVecDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def arrayEqCount(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayEqCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def setIntersectSize(a: Column, b: Column): Column =
    ColumnBridge.column(SetIntersectSize(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def stringHamming(a: Column, b: Column): Column =
    ColumnBridge.column(StringHamming(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def lshSignature(emb: Column, planes: Int, dim: Int): Column =
    ColumnBridge.column(LshSignature(
      ColumnBridge.expression(emb), planes, dim))

  def signedProjection(emb: Column, outDim: Int, dim: Int): Column =
    ColumnBridge.column(SignedProjection(
      ColumnBridge.expression(emb), outDim, dim))
}
