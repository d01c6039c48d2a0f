package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions over text columns.
  *
  * `token_count` runs on EVERY chunk of every document (the n_tokens
  * column in [[graft.pipeline.Chunkers.chunkDocuments]] and the X5
  * queries), so unlike the non-hot-path UDF family it earns codegen: the
  * generated code calls straight into the matcher loop with no UDF
  * wrapper, no Option boxing, and the enclosing projection stays inside
  * WholeStageCodegen.
  */
object TextKernels {
  /** Count without materializing tokens. Null never reaches here —
    * [[TokenCount]] has SQL-standard null-in/null-out semantics (NOTE: the
    * pre-promotion UDF returned 0 for null text; no gate table has null
    * text, but new callers should expect the standard behavior).
    */
  def tokenCount(s: UTF8String): Int =
    graft.core.RegexTokenizer.count(s.toString)

  /** Non-overlapping w-token windows of one document, each re-joined with
    * a single space — the d11/d12 pseudo-paragraph frame. One JVM pass
    * replaces the five-operator SQL chain
    * (trim→split→filter→transform/slice/array_join) whose higher-order
    * functions are CodegenFallback: the chain alone cost 0.38 s of d11's
    * 0.59 s at sf0.1 (SCALING.md "Floor attribution: d11, a7"). Tokenization
    * matches the SQL chain exactly — space-only trim (SQL `trim` touches
    * only ' '), split on single spaces, empties dropped — and window g
    * covers tokens [g*w, min(n, g*w+w)), so `array_join(slice(toks,
    * g*w+1, w), ' ')` reproduces every element and a SQL oracle stays
    * bit-identical.
    */
  def paraWindows(s: UTF8String, w: Int): ArrayData = {
    // SQL-reachable (graft_para_windows): fail with a clear message, not
    // an ArithmeticException / NegativeArraySizeException mid-task
    if (w <= 0) throw new IllegalArgumentException(
      s"graft_para_windows: window width must be positive, got $w")
    val str = s.toString
    var lo = 0; var hi = str.length
    while (lo < hi && str.charAt(lo) == ' ') lo += 1
    while (hi > lo && str.charAt(hi - 1) == ' ') hi -= 1
    val toks0 = str.substring(lo, hi).split(" ")
    val toks = new Array[String](toks0.length)
    var n = 0
    var i = 0
    while (i < toks0.length) {
      if (toks0(i).nonEmpty) { toks(n) = toks0(i); n += 1 }
      i += 1
    }
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val m = (n + w - 1) / w
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder
    var g = 0
    while (g < m) {
      sb.setLength(0)
      var t = g * w
      val end = math.min(n, t + w)
      while (t < end) { if (t > g * w) sb.append(' '); sb.append(toks(t)); t += 1 }
      out(g) = UTF8String.fromString(sb.toString)
      g += 1
    }
    new GenericArrayData(out)
  }
}

case class TokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_count"
  override def nullSafeEval(input: Any): Any =
    TextKernels.tokenCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.tokenCount($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sketch kernels — the per-row inner loops of the near-dup families
  * (d2/d3 run one of these over EVERY document). Same promotion rationale
  * as token_count: the generated projection calls the static kernel
  * directly, no UDF encoder boundary, and the enclosing stage (signature →
  * band explode) stays inside WholeStageCodegen. Null text follows SQL
  * null-in/null-out (the pre-promotion UDFs would have NPE'd).
  */
object HashKernels {
  def minhash(s: UTF8String): ArrayData =
    new GenericArrayData(Hashing.minhashSignature(s.toString))
  def simhash(s: UTF8String): Long = Hashing.simhash64(s.toString)

  /** Sorted DISTINCT word-shingle hashes of one document — the set the
    * exact-Jaccard verify stage compares. Computed once per document (one
    * scan) instead of once per candidate pair: a doc in k pairs was
    * previously re-tokenized k times inside the pair-level UDF.
    */
  def shingleSet(s: UTF8String): ArrayData = {
    val sh = Hashing.shingles(s.toString)
    java.util.Arrays.sort(sh)
    var n = 0
    var i = 0
    while (i < sh.length) { // dedupe in place over the sorted run
      if (n == 0 || sh(i) != sh(n - 1)) { sh(n) = sh(i); n += 1 }
      i += 1
    }
    new GenericArrayData(if (n == sh.length) sh else java.util.Arrays.copyOf(sh, n))
  }

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Word k-gram shingles of one document with their 32-bit md5-prefix
    * values, as (sh, v) structs — the integer-portable hash family of the
    * corpus-overlap sketch ([[graft.operators.Dedup.corpusMinhashOverlap]]).
    * One JVM pass replaces the five-operator SQL chain
    * (split→filter→transform/slice/array_join→md5→conv) that dominated
    * d13's runtime (2.8 s of its 3.8 s at sf0.1 was shingle
    * materialization). Tokenization matches the SQL chain exactly:
    * space-only trim (SQL `trim` touches only ' ', unlike String.trim),
    * split on single spaces, empties dropped; v equals
    * `conv(substring(md5(sh),1,8),16,10)` — the first four digest bytes as
    * an unsigned 32-bit integer — so a SQL engine reproduces the sketch.
    */
  def overlapShingles(s: UTF8String, k: Int): ArrayData = {
    val str = s.toString
    var lo = 0; var hi = str.length
    while (lo < hi && str.charAt(lo) == ' ') lo += 1
    while (hi > lo && str.charAt(hi - 1) == ' ') hi -= 1
    val toks0 = str.substring(lo, hi).split(" ")
    val toks = new Array[String](toks0.length)
    var n = 0
    var i = 0
    while (i < toks0.length) {
      if (toks0(i).nonEmpty) { toks(n) = toks0(i); n += 1 }
      i += 1
    }
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val md = Md5.get()
    val sb = new java.lang.StringBuilder
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      sb.setLength(0)
      var t = 0
      while (t < k) { if (t > 0) sb.append(' '); sb.append(toks(j + t)); t += 1 }
      val sh = sb.toString
      md.reset()
      val dg = md.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val v = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
        ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
      out(j) = InternalRow(UTF8String.fromString(sh), v)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Exact Jaccard of two SORTED distinct long arrays via a single merge
    * loop — pure set arithmetic, no string work. Both-empty → 1.0 (the
    * [[Hashing.ngramJaccard]] rule, so the rework is value-identical).
    */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }
}

case class MinHashSignature(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"
  override def nullSafeEval(input: Any): Any =
    HashKernels.minhash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minhash($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ShingleHashSet(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_set"
  override def nullSafeEval(input: Any): Any =
    HashKernels.shingleSet(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.shingleSet($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SortedSetJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_set_jaccard"
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashKernels.sortedJaccard($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

case class OverlapShingles(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sh", StringType, nullable = false),
    StructField("v", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_overlap_shingles"
  override def nullSafeEval(text: Any, k: Any): Any =
    HashKernels.overlapShingles(text.asInstanceOf[UTF8String], k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, k) => s"graft.functions.HashKernels.overlapShingles($t, $k)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

case class ParaWindows(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_para_windows"
  override def nullSafeEval(text: Any, w: Any): Any =
    TextKernels.paraWindows(text.asInstanceOf[UTF8String], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, w) => s"graft.functions.TextKernels.paraWindows($t, $w)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
