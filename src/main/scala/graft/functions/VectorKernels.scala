package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Fused cosine-similarity kernel over float-vector columns.
  *
  * Why a kernel and not `aggregate(zip_with(...))`: Spark's higher-order
  * functions evaluate their lambdas interpreted (no whole-stage codegen),
  * which makes brute-force ANN ~20× slower than a fused loop. Each
  * kernel's [[Kernel]] entry emits ONE static call inside codegen.
  *
  * Bit-exactness contract (the DuckDB oracle depends on it): dot, ‖a‖²,
  * ‖b‖² are independent strict left folds in double over array order —
  * accumulating all three in one fused loop yields the identical IEEE
  * results as three separate folds, so `dot / (sqrt(na) * sqrt(nb))`
  * matches `list_sum(list_transform(...)) / (sqrt(...) * sqrt(...))`.
  */
object VectorKernels {
  /** Packed sign bits of `planes.length` hyperplane projections: bit p is
    * set iff dot(v, planes(p)) > 0, each dot a strict left fold in double
    * (identical to DuckDB `list_sum(list_transform(...)) > 0`, which keeps
    * the LSH bucket assignment oracle-checkable with the planes inlined as
    * SQL literals). */
  def sigBits(v: ArrayData, planes: Array[Array[Double]]): Int = {
    var sig = 0
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      val n = math.min(v.numElements(), pl.length)
      var d = 0.0
      var i = 0
      while (i < n) {
        d += v.getFloat(i).toDouble * pl(i)
        i += 1
      }
      if (d > 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** Fused cosine: dot over the common prefix, each norm over its OWN
    * full array — so `dotF(a,b) / (normF(a) * normF(b))` is bit-identical
    * to `cosineF(a,b)` for EVERY input, including length-mismatched
    * vectors (the tail loops extend the same strict left folds, so the
    * addition order matches [[normF]] exactly). Equal-length inputs (the
    * only shape the ANN operators produce) never enter the tails. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val an = a.numElements()
    val bn = b.numElements()
    val n = math.min(an, bn)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    var j = n
    while (j < an) {
      val x = a.getFloat(j).toDouble
      na += x * x
      j += 1
    }
    var k = n
    while (k < bn) {
      val y = b.getFloat(k).toDouble
      nb += y * y
      k += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Strict left-fold dot product in double — the identical fold
    * [[cosineF]] accumulates, exposed separately so ANN operators can
    * precompute per-VECTOR norms once instead of re-folding both norms
    * inside every pair: `dotF(a,b) / (normF(a) * normF(b))` is
    * bit-identical to `cosineF(a,b)` (same folds, same sqrt, same
    * division) at a third of the per-pair flops. */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  /** sqrt of the strict left-fold sum of squares — [[cosineF]]'s norm. */
  def normF(a: ArrayData): Double = {
    val n = a.numElements()
    var na = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      na += x * x
      i += 1
    }
    math.sqrt(na)
  }
}
