package graft.functions

import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Cosine similarity between two `ARRAY<DOUBLE>` vectors as a native Catalyst
  * expression (whole-stage-codegen friendly — no UDF serialization fence).
  *
  * Semantics pinned to the reference implementation
  * (`/root/reference/utils/utils.go:9-24`):
  *   - fused single-pass dot + norms (one loop, no allocation);
  *   - length mismatch → error (utils.go:11-13);
  *   - either vector zero-norm → 0.0, never NaN (utils.go:19-21);
  *   - NULL input → NULL (SQL-standard; the reference cannot see nulls).
  *
  * Hot-path allocation: the Column/SQL helpers wrap inputs in
  * `Cast(_, ARRAY<DOUBLE>)`, and the corpus storage type is ARRAY<FLOAT> —
  * evaluated naively, that cast materializes a fresh 8·dim-byte array PER
  * ROW on both sides of every scored pair (measured 326 CPU-seconds + 70 s
  * of GC for a 2000² scoring pass at sf0.1). Since float→double is a pure
  * per-element widening, eval/codegen PEEL that exact cast pattern and read
  * the float elements directly inside the fused loop — bit-identical
  * results (`(double) f` then double math ≡ cast-then-double-math), zero
  * per-row allocation. Any other cast (e.g. ARRAY<INT> sources) still
  * evaluates as written.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must already be ARRAY<DOUBLE>; the Column/SQL helpers in
  // VectorFunctions insert the Cast, so no ExpectsInputTypes machinery
  // (private[sql] in Spark 4) is needed here.
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"

  @transient private lazy val (leftArr, leftFloat) = CosineSimilarity.peel(left)
  @transient private lazy val (rightArr, rightFloat) = CosineSimilarity.peel(right)

  override def eval(input: InternalRow): Any = {
    val l = leftArr.eval(input)
    if (l == null) return null
    val r = rightArr.eval(input)
    if (r == null) return null
    CosineSimilarity.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      leftFloat, rightFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lG = leftArr.genCode(ctx)
    val rG = rightArr.genCode(ctx)
    val newCode =
      code"""
        ${lG.code}
        ${rG.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = -1.0;
        if (!${lG.isNull} && !${rG.isNull}) {
          ${ev.isNull} = false;
          ${ev.value} = graft.functions.CosineSimilarity.compute(
            ${lG.value}, ${rG.value}, $leftFloat, $rightFloat);
        }"""
    ev.copy(code = newCode)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** Strip a no-op-widening `Cast(ARRAY<FLOAT> → ARRAY<DOUBLE>)` (see class
    * doc); returns the expression to evaluate plus whether its elements are
    * floats. */
  private[functions] def peel(e: Expression): (Expression, Boolean) = e match {
    case c: Cast if isFloatArray(c.child.dataType) &&
        isDoubleArray(c.dataType) => (c.child, true)
    case other if isFloatArray(other.dataType) => (other, true)
    case other => (other, false)
  }

  private def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** Back-compat double/double entry point (kept for external callers). */
  def compute(x: ArrayData, y: ArrayData): Double = compute(x, y, false, false)

  /** Fused single-pass loop over the two arrays; called from both interpreted
    * eval and generated code. `xFloat`/`yFloat` select the element reader —
    * a float element is widened in-register, matching the Cast semantics the
    * peel removed. */
  def compute(x: ArrayData, y: ArrayData, xFloat: Boolean, yFloat: Boolean): Double = {
    val n = x.numElements()
    if (n != y.numElements()) throw lengthMismatch(n, y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) throw nullElement(i)
      val a = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val b = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += a * b
      nx += a * a
      ny += b * b
      i += 1
    }
    fromParts(dot, nx, ny)
  }

  /** Cosine from a dot product and the two squared norms, each accumulated
    * in index order as [[compute]] does; either vector zero-norm → 0.0.
    * Callers that score one vector against many accumulate a norm once and
    * reuse it — the result is bit-identical to [[compute]]. */
  def fromParts(dot: Double, nx: Double, ny: Double): Double =
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))

  def lengthMismatch(n: Int, m: Int): SparkException =
    new SparkException(s"cosine_sim: vectors must be of equal length (got $n vs $m)")

  def nullElement(i: Int): SparkException =
    new SparkException(s"cosine_sim: vectors must not contain NULL elements (at index $i)")
}
