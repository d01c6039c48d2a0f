package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions over `array<float>` embedding columns
  * (SURVEY §2.12, §7.1 item 7 — the vector-similarity surface).
  *
  * Implemented as codegen'd expressions rather than Scala UDFs so they stay
  * inside WholeStageCodegen and read ArrayData directly with no
  * serialization — at 100 TB the dot product is the innermost loop of the
  * similarity-search operators. Accumulation is in double precision.
  */
object VectorKernels {
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val a = x.getFloat(i).toDouble; val b = y.getFloat(i).toDouble
      dot += a * b; nx += a * a; ny += b * b
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }
  def l2norm(x: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val a = x.getFloat(i).toDouble; s += a * a; i += 1 }
    math.sqrt(s)
  }

  /** The id of the centroid nearest `v` in squared L2: float difference,
    * float square, double accumulation, and the first strictly smaller
    * distance wins. A vector no distance is smaller for (a NaN element)
    * goes to the first centroid's id, which always names a live cell.
    */
  def nearestCentroid(v: ArrayData, ids: Array[Int], cents: Array[Array[Float]]): Int = {
    if (ids.isEmpty)
      throw new IllegalArgumentException("nearest_cell_f32: no centroids to assign to")
    val n = v.numElements()
    var best = ids(0); var bestD = Double.MaxValue
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci); var d = 0.0; var i = 0
      while (i < n) { val x = v.getFloat(i) - c(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = ids(ci) }
      ci += 1
    }
    best
  }
}

case class DotProductF32(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs must be array<float>; AbstractDataType is private[sql], so no
  // declared inputTypes — callers go through GraftFunctions' typed Column API
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f32"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // All locals fresh-named: two of these expressions in one projection
      // (multi-probe scoring does exactly that) would otherwise redefine
      // the same Java locals and drop the WHOLE projection to interpreted
      // mode (Janino "Redefinition of local variable").
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double)$x.getFloat($i) * (double)$y.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class CosineSimF32(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs must be array<float>; AbstractDataType is private[sql], so no
  // declared inputTypes — callers go through GraftFunctions' typed Column API
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_f32"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val a = ctx.freshName("a")
      val b = ctx.freshName("b"); val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $a = (double)$x.getFloat($i);
         |  double $b = (double)$y.getFloat($i);
         |  $dot += $a * $b; $nx += $a * $a; $ny += $b * $b;
         |}
         |double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Approximate cosine between int8-quantized codes (BinaryType) and a
  * float probe. Under symmetric per-vector quantization (codes =
  * round(v/s), one scale per vector) the scale cancels out of the cosine,
  * so first-pass scoring reads ONLY the 4×-smaller code column — the
  * memory lever that keeps a quantized 100 TB corpus hot. Candidates are
  * exact-reranked against the float column afterwards
  * ([[graft.operators.Similarity.searchQuantized]]).
  */
case class CosineSimI8(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_i8"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.length, y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val c = x(i).toDouble; val p = y.getFloat(i).toDouble
      dot += c * p; nx += c * c; ny += p * p
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val c = ctx.freshName("c")
      val p = ctx.freshName("p"); val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($x.length, $y.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $c = (double)$x[$i];
         |  double $p = (double)$y.getFloat($i);
         |  $dot += $c * $p; $nx += $c * $c; $ny += $p * $p;
         |}
         |double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Asymmetric 1-bit scoring: `bits` is a binary-quantized vector (bit i of
  * byte i>>3, LSB-first, set iff dimension i is above its corpus mean) and
  * the probe stays float. Score = Σᵢ (bitᵢ ? +qᵢ : −qᵢ) = dot(q, sign(v−m))
  * — under the BQ reconstruction v ≈ m + s·sign(v−m), dot(q, v) differs
  * from this score only by the probe-constant dot(q, m) and the positive
  * corpus scale s, so per-probe RANKING by the score matches ranking by
  * approximate dot. Stage 1 of the 1-bit tier therefore reads ONLY the
  * 32×-smaller code column ([[graft.operators.Similarity.searchBinaryBatch]]
  * exact-reranks survivors against the float corpus).
  */
case class BinaryDotF32(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "binary_dot_f32"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val bits = a.asInstanceOf[Array[Byte]]
    val q = b.asInstanceOf[ArrayData]
    val n = q.numElements()
    // the code must be EXACTLY ceil(n/8) bytes: a longer probe would read
    // zero padding as −qᵢ contributions, and a probe below (len−1)·8 dims
    // provably came from a different-dimension model and would silently
    // score a prefix — both fail loudly instead
    if (n > bits.length * 8 || n <= (bits.length - 1) * 8)
      throw new IllegalArgumentException(
        s"binary_dot_f32: probe has $n dims but the code is ${bits.length} " +
          s"bytes (${(bits.length - 1) * 8 + 1}..${bits.length * 8} dims) — " +
          "the probe and the quantized corpus disagree on dimension")
    var s = 0.0
    var i = 0
    while (i < n) {
      val qi = q.getFloat(i).toDouble
      s += (if ((bits(i >> 3) & (1 << (i & 7))) != 0) qi else -qi)
      i += 1
    }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i"); val q = ctx.freshName("q")
      s"""
         |int $n = $y.numElements();
         |if ($n > $x.length * 8 || $n <= ($x.length - 1) * 8) {
         |  throw new IllegalArgumentException(
         |    "binary_dot_f32: probe has " + $n + " dims but the code is " +
         |    $x.length + " bytes — the probe and the quantized corpus " +
         |    "disagree on dimension");
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $q = (double)$y.getFloat($i);
         |  $acc += (($x[$i >> 3] & (1 << ($i & 7))) != 0) ? $q : -$q;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class L2NormF32(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2norm_f32"
  override def nullSafeEval(a: Any): Any = VectorKernels.l2norm(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i"); val a = ctx.freshName("a")
      s"""
         |double $acc = 0.0;
         |int $n = $x.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  double $a = (double)$x.getFloat($i); $acc += $a * $a;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The IVF assignment: the id of the centroid nearest an `array<float>`
  * vector ([[VectorKernels.nearestCentroid]]). The centroids are constants
  * held by the expression, so a k-means iteration ships them in its task
  * binary and needs no broadcast. A null vector has no cell: it is refused
  * with an IllegalArgumentException that names `column`.
  */
case class NearestCellF32(child: Expression, ids: Array[Int],
    cents: Array[Array[Float]], column: String) extends UnaryExpression {
  require(ids.length == cents.length, "nearest_cell_f32: one id per centroid")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_cell_f32"
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"${ids.length} centroids", column)
  private def nullVector = s"nearest_cell_f32: column $column holds a null vector, " +
    "which has no cell; drop or fill null vectors before assigning cells"
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) throw new IllegalArgumentException(nullVector)
    VectorKernels.nearestCentroid(v.asInstanceOf[ArrayData], ids, cents)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val idsRef = ctx.addReferenceObj("ids", ids, "int[]")
    val centsRef = ctx.addReferenceObj("cents", cents, "float[][]")
    val msg = ctx.addReferenceObj("nullVector", nullVector, "String")
    ev.copy(code = code"""
      |${c.code}
      |if (${c.isNull}) throw new IllegalArgumentException($msg);
      |int ${ev.value} = graft.functions.VectorKernels.nearestCentroid(
      |  ${c.value}, $idsRef, $centsRef);
     """.stripMargin, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NearestCellF32 {
  /** The SQL form `nearest_cell_f32(vec, ids, centroids, column)`: ids is
    * a constant `array<int>`, centroids a constant `array<array<float>>`
    * of the same length, column the name a null vector is refused with.
    */
  def apply(es: Seq[Expression]): NearestCellF32 = {
    require(es.length == 4 && es.tail.forall(_.foldable),
      "nearest_cell_f32(vec, ids, centroids, column) takes a vector and three constants")
    val ids = es(1).eval().asInstanceOf[ArrayData].toIntArray()
    val cs = es(2).eval().asInstanceOf[ArrayData]
    val cents = Array.tabulate(cs.numElements())(i => cs.getArray(i).toFloatArray())
    NearestCellF32(es(0), ids, cents, es(3).eval().toString)
  }
}
