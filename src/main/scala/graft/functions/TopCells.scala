package graft.functions

import java.math.RoundingMode

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Top-`nProbe` centroid cells by 6-dp-rounded cosine (score desc, lower
  * cell on ties) as ONE fused primitive pass — the probe-side ranking of
  * every IVF cell-blocking caller ([[graft.operators.Ann.probeCells]]:
  * the flat and two-level probes of Bitext and Centrality),
  * value-identical to the composed form
  * `slice(array_sort(transform(sequence(1, nCells), ci -> struct(0.0 -
  * round(cosine_sim(v, cent[ci]), 6), ci))), 1, nProbe).cell` and to the
  * oracle's `row_number() OVER (ORDER BY round(cos, 6) DESC, ci ASC) <=
  * nProbe`.
  *
  * Why fused: a lambda body never codegens, so the composed form runs
  * `nCells` INTERPRETED cosines per row with a boxed struct allocation
  * each — the [[MinHashBandKeys]] boxing profile all over again, and the
  * dominant cost of the ANN edge build once `nCells` grows with the
  * corpus (√N cells at 200k replicated vectors = 447 interpreted cosines
  * per row). Here scores accumulate in [[NearestCentroid.compute]]'s
  * exact float-op order (bit-identical to `cosine_sim` and the oracle's
  * `cosRawSql`), and the 6-dp round — `BigDecimal.valueOf(s).setScale(6,
  * HALF_UP)`, Spark `Round`'s own double path — is paid LAZILY: a raw
  * selection pass finds the nProbe-th score first, and only cells within
  * one 6-dp rounding quantum (±5e-7 each side) of that threshold are
  * rounded and tie-ranked. Rounding moves a score by at most 5e-7, so no
  * cell below the margin can round into the top set: the lazy path is
  * exact, not approximate.
  *
  * NaN scores (possible only from NaN vector components) rank LAST —
  * the composed form's `0.0 - NaN = NaN` sorts greatest-ascending, i.e.
  * after every finite key. Zero-norm vectors score 0.0 against every
  * centroid ([[CosineSimilarity]] contract) and fall back to cell order.
  */
case class TopCells(child: Expression, cents: Seq[Seq[Double]], nProbe: Int)
    extends UnaryExpression {

  require(nProbe >= 1 && nProbe <= cents.length,
    s"nProbe must be in [1, ${cents.length}], got $nProbe")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "top_cells"

  private lazy val matrix: Array[Array[Double]] = cents.map(_.toArray).toArray
  private lazy val norms: Array[Double] = NearestCentroid.centroidNorms(matrix)

  override def nullSafeEval(v: Any): Any =
    TopCells.compute(v.asInstanceOf[ArrayData], matrix, norms, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refM = ctx.addReferenceObj("centroids", matrix, "double[][]")
    val refN = ctx.addReferenceObj("centroidNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TopCells.compute($x, $refM, $refN, $nProbe);")
  }

  override protected def withNewChildInternal(newChild: Expression): TopCells =
    copy(child = newChild)
}

object TopCells {

  /** Spark `Round(double, 6)`: identity on NaN/Infinite, else
    * BigDecimal.valueOf + HALF_UP. */
  private def round6(s: Double): Double =
    if (s.isNaN || s.isInfinite) s
    else java.math.BigDecimal.valueOf(s).setScale(6, RoundingMode.HALF_UP).doubleValue()

  def compute(v: ArrayData, cents: Array[Array[Double]], norms: Array[Double],
              nProbe: Int): ArrayData = {
    val n = cents.length
    val dim = if (n > 0) cents(0).length else 0
    ExpressionGuards.requireVector("top_cells", v, dim)
    val x = new Array[Double](dim)
    var nx = 0.0
    var i = 0
    while (i < dim) { val xi = v.getDouble(i); x(i) = xi; nx += xi * xi; i += 1 }
    val xNorm = math.sqrt(nx)

    // raw scores, NearestCentroid's float-op order; NaN mapped to -Inf for
    // the selection (NaN ranks last — see scaladoc)
    val raw = new Array[Double](n)
    var c = 0
    while (c < n) {
      val row = cents(c)
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += x(j) * row(j); j += 1 }
      val s = if (nx == 0.0 || norms(c) == 0.0) 0.0 else dot / (xNorm * norms(c))
      raw(c) = if (s.isNaN) Double.NegativeInfinity else s
      c += 1
    }

    // nProbe-th largest raw score via nProbe selection passes (nProbe is
    // small; O(nProbe·n) with zero allocation)
    val taken = new Array[Boolean](n)
    var kth = 0.0
    var p = 0
    while (p < nProbe) {
      var best = -1
      var bestS = Double.NegativeInfinity
      var c2 = 0
      while (c2 < n) {
        if (!taken(c2) && (best < 0 || raw(c2) > bestS)) { best = c2; bestS = raw(c2) }
        c2 += 1
      }
      taken(best) = true
      kth = bestS
      p += 1
    }

    // candidates: anything that could round into the top set — rounding
    // shifts a value by ≤ 5e-7, so the margin of one full quantum is safe
    val margin = 1.0e-6
    var m = 0
    var c3 = 0
    while (c3 < n) { if (raw(c3) >= kth - margin) m += 1; c3 += 1 }
    val candCell = new Array[Int](m)
    val candScore = new Array[Double](m)
    var w = 0
    c3 = 0
    while (c3 < n) {
      if (raw(c3) >= kth - margin) {
        candCell(w) = c3
        candScore(w) = round6(raw(c3))
        w += 1
      }
      c3 += 1
    }
    // insertion sort by (rounded desc, cell asc); m is nProbe + ties
    var a = 1
    while (a < m) {
      val sc = candScore(a); val cc = candCell(a)
      var b = a - 1
      while (b >= 0 && (candScore(b) < sc || (candScore(b) == sc && candCell(b) > cc))) {
        candScore(b + 1) = candScore(b); candCell(b + 1) = candCell(b); b -= 1
      }
      candScore(b + 1) = sc; candCell(b + 1) = cc
      a += 1
    }
    val out = new Array[Long](nProbe)
    var o = 0
    while (o < nProbe) { out(o) = (candCell(o) + 1).toLong; o += 1 }
    new GenericArrayData(out)
  }
}
