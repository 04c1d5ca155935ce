package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Single-pass vector kernels as custom Catalyst expressions.
  *
  * The composable form (zip_with + aggregate higher-order functions,
  * kept in [[VectorFunctions]] as the cross-checked reference
  * implementation) walks the array several times through interpreted
  * lambdas and allocates an intermediate array per row; these kernels do
  * one tight primitive loop per row — the difference is ~5× on the ANN
  * queries and grows with dimension. Still scalar per-row operators: no
  * shuffle, distribute trivially.
  */

private[functions] object VecUtil {
  def isNumArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  /** Read element i as double from a float or double array. */
  @inline def get(arr: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
}

/** cosine(a, b) in one pass: accumulates dot, |a|², |b|² together.
  * Zero-norm or length-mismatched inputs → 0.0 (degenerate vectors
  * shouldn't match any threshold). Generates a tight primitive loop via
  * doGenCode so the whole scoring pipeline stays in whole-stage
  * codegen. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecUtil.isNumArray(left.dataType) && VecUtil.isNumArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> args, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")

  private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return 0.0d
    var dot = 0.0d; var na = 0.0d; var nb = 0.0d
    var i = 0
    while (i < n) {
      val x = VecUtil.get(a, leftIsFloat, i)
      val y = VecUtil.get(b, rightIsFloat, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0d) 0.0d else dot / denom
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val denom = ctx.freshName("denom")
      val getA = if (leftIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (rightIsFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
        |final int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  ${ev.value} = 0.0;
        |} else {
        |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    final double x = $getA;
        |    final double y = $getB;
        |    $dot += x * y; $na += x * x; $nb += y * y;
        |  }
        |  final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
        |  ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : CosineSimilarity = copy(left = l, right = r)
}

/** dot(a, b) in one pass, double accumulator. Null on length mismatch. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecUtil.isNumArray(left.dataType) && VecUtil.isNumArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> args")

  private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0d
    var i = 0
    while (i < n) {
      dot += VecUtil.get(a, leftIsFloat, i) * VecUtil.get(b, rightIsFloat, i)
      i += 1
    }
    dot
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : DotProduct = copy(left = l, right = r)
}

/** Exact int64 dot product: `array<bigint> × array<bigint> → bigint`
  * with Java wrap-around — value-identical to the HOF reference form
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,x) -> acc+x)`
  * (cross-checked in VectorFunctionsSpec), which runs INTERPRETED and
  * allocates a zipped array per invocation. The quantized ANN/dedup
  * family (q86/q90/q92/q93/q153) evaluates this at PAIR grain —
  * candidates × dimension — so the interpreted form was the hot path:
  * measured 5.5× on q153 (1.86 → 0.34 s sf0.1) and it grows with
  * cluster size. Null on length mismatch (the HOF form yields null
  * through null-padded zip there too). Codegen keeps pair scoring
  * inside whole-stage codegen. */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_long_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> args, got ${l.sql}, ${r.sql}")
    }

  override def nullable: Boolean = true

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += a.getLong(i) * b.getLong(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
        |final int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  long $dot = 0L;
        |  for (int $i = 0; $i < $n; $i++) {
        |    $dot += $a.getLong($i) * $b.getLong($i);
        |  }
        |  ${ev.value} = $dot;
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : LongDotProduct = copy(left = l, right = r)
}

/** Exact integer squared L2 distance Σ(a−b)² over two `array<bigint>`
  * columns, one fused pass, whole-stage-codegen'd — the PQ
  * sub-quantizer distance kernel (r21: the zip_with+aggregate HOF form
  * ran interpreted and allocated a difference array per (row,
  * candidate); the v·v+c·c−2·v·c expansion via [[LongDotProduct]]
  * measured WORSE because codegen subexpression elimination skips
  * conditional branches, re-evaluating v·v per candidate). Mismatched
  * lengths → null, like [[LongDotProduct]]. */
case class LongL2Distance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_long_l2"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> args, got ${l.sql}, ${r.sql}")
    }

  override def nullable: Boolean = true

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
        |final int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  long $acc = 0L;
        |  for (int $i = 0; $i < $n; $i++) {
        |    final long $d = $a.getLong($i) - $b.getLong($i);
        |    $acc += $d * $d;
        |  }
        |  ${ev.value} = $acc;
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : LongL2Distance = copy(left = l, right = r)
}

/** Fused codebook scan: the argmin candidate INDEX over a small
  * driver-held codebook, one tight loop per row — the FAISS assignment
  * kernel shape (r21). `l2 = false`: key = −(v·cᵢ) (i.e. argmax dot);
  * `l2 = true`: key = Σ(v−cᵢ)². Strict `<` keeps the FIRST minimal
  * index, so with codebook rows sorted by ascending id the selection is
  * exactly the lexicographic (key ASC, id ASC) the r20 struct form and
  * the oracle's ROW_NUMBER window both implement. Returns the 0-based
  * index (int), seeded from candidate 0 so a key that overflows to
  * Long.MaxValue still selects a real candidate. Null input → null. A
  * row whose length differs from the codebook's dimension → null too;
  * there the earlier composed struct form differed (its null keys
  * sorted first, so it picked candidate 0), an edge the fixed-dimension
  * catalog never reaches. Why an expression and not composed
  * built-ins: per-row K-candidate selection via
  * array_min(array(structs)) allocates K structs and compares them
  * through an interpreted ordering, and via packed longs still plans K
  * separate dot kernels + a CreateArray —
  * both measured SLOWER than the r19 broadcast-join+window at sf1
  * (q90 1.4×, q167 2.5×). This kernel is one reference-held long[][]
  * and one fused loop: no allocation, no per-candidate expression
  * overhead, strictly less work per row than any alternative at any
  * scale. */
case class CodebookArgmin(child: Expression, codebook: Array[Array[Long]],
    l2: Boolean) extends UnaryExpression {
  require(codebook.nonEmpty && codebook.forall(_.length == codebook.head.length),
    "codebook must be non-empty and rectangular")
  override def dataType: DataType = IntegerType
  override def prettyName: String =
    if (l2) "graft_codebook_argmin_l2" else "graft_codebook_argmax_dot"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.sql}")
  }

  override def nullable: Boolean = true

  // value-equality on the codebook contents, so plan/codegen caches and
  // ReuseExchange treat equal-codebook instances as equal expressions
  override def equals(other: Any): Boolean = other match {
    case o: CodebookArgmin => child == o.child && l2 == o.l2 &&
      java.util.Arrays.deepEquals(
        codebook.asInstanceOf[Array[AnyRef]], o.codebook.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Boolean.box(l2),
      Integer.valueOf(java.util.Arrays.deepHashCode(
        codebook.asInstanceOf[Array[AnyRef]])))

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dims = codebook.head.length
    if (v.numElements() != dims) return null
    var best = 0
    var bestKey = Long.MaxValue
    var c = 0
    while (c < codebook.length) {
      val cv = codebook(c)
      var acc = 0L
      var i = 0
      if (l2) while (i < dims) { val d = v.getLong(i) - cv(i); acc += d * d; i += 1 }
      else { while (i < dims) { acc += v.getLong(i) * cv(i); i += 1 }; acc = -acc }
      if (acc < bestKey) { bestKey = acc; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val cb = ctx.addReferenceObj("codebook", codebook, "long[][]")
    val dims = codebook.head.length
    nullSafeCodeGen(ctx, ev, v => {
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val best = ctx.freshName("best")
      val bestKey = ctx.freshName("bestKey"); val cv = ctx.freshName("cv")
      val d = ctx.freshName("d")
      val inner =
        if (l2) s"final long $d = $v.getLong($i) - $cv[$i]; $acc += $d * $d;"
        else s"$acc += $v.getLong($i) * $cv[$i];"
      val flip = if (l2) "" else s"$acc = -$acc;"
      s"""
        |if ($v.numElements() != $dims) {
        |  ${ev.isNull} = true;
        |} else {
        |  int $best = 0;
        |  long $bestKey = Long.MAX_VALUE;
        |  for (int $c = 0; $c < ${codebook.length}; $c++) {
        |    final long[] $cv = $cb[$c];
        |    long $acc = 0L;
        |    for (int $i = 0; $i < $dims; $i++) { $inner }
        |    $flip
        |    if ($acc < $bestKey) { $bestKey = $acc; $best = $c; }
        |  }
        |  ${ev.value} = $best;
        |}
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): CodebookArgmin =
    copy(child = c)
}

/** `planes`-bit deterministic hyperplane LSH signature in one pass.
  * Weight w(p,d) = ±1 from a splitmix64 mix of (p,d) — position-seeded,
  * identical on every executor, no plane matrix to broadcast. */
case class HyperplaneSignature(child: Expression, planes: Int)
    extends UnaryExpression with CodegenFallback {
  require(planes > 0 && planes <= 63, "planes must be in [1,63]")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecUtil.isNumArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>")

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0d
      var d = 0
      while (d < n) {
        val w = if ((mix(p.toLong * 0x100000001L + d) & 1L) == 0L) 1.0d else -1.0d
        proj += VecUtil.get(v, isFloat, d) * w
        d += 1
      }
      if (proj >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): HyperplaneSignature =
    copy(child = c)
}
