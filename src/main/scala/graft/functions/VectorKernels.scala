package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** The scalar loop bodies behind the vector expressions, shared by the
  * expressions ([[HyperplaneBuckets]] in interpreted and generated
  * code, [[FloatVectorDot]] in interpreted eval) and by the driver-side
  * trainer ([[graft.operators.Similarity.trainCentroids]]) — one loop
  * per arithmetic law, so a trainer running on the driver computes
  * exactly what the same expression computes in a Spark plan.
  */
object VectorKernels {

  /** Σ x_i·y_i, accumulated left to right in double over elements
    * widened from float or double (`xd`/`yd`: the side is
    * array<double>) — [[FloatVectorDot]]'s arithmetic. NULL (a null
    * reference) on a length mismatch or any null element, like the
    * `zip_with`+`aggregate` fold it replaced.
    */
  def dot(x: ArrayData, xd: Boolean, y: ArrayData, yd: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      s += xv * yv
      i += 1
    }
    s
  }

  /** The sign bucket of a float vector under `planes` hyperplanes
    * `w(row0 + p)`: bit p set when Σ_d x_d·w_d > 0, accumulated in
    * dimension order, null elements skipped — [[HyperplaneBuckets]]'
    * per-table law. The caller checks the length first ([[dimCheck]]).
    */
  def signBucket(x: ArrayData, w: Array[Array[Double]], row0: Int,
      planes: Int, dim: Int): Long = {
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val wr = w(row0 + p)
      var proj = 0.0
      var d = 0
      while (d < dim) {
        if (!x.isNullAt(d)) proj += x.getFloat(d).toDouble * wr(d)
        d += 1
      }
      if (proj > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** The sign-bucket length guard: a shorter vector would silently
    * prefix-project (the oracle's list_dot_product rejects it).
    */
  def dimCheck(n: Int, dim: Int): Unit =
    if (n != dim) throw new IllegalStateException(
      s"signBuckets: embedding dim must be $dim (got $n)")

  /** Spark's `round(d, scale)` on a double: NaN and ±Inf pass through,
    * anything else is HALF_UP on `BigDecimal(d)` (the shortest decimal
    * that reads back as `d`).
    */
  def round(d: Double, scale: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `round(dot / (na · nb), 6)` — [[VectorFunctions.roundedCosine]]. */
  def roundedCosine(dot: Double, na: Double, nb: Double): Double =
    round(dot / (na * nb), 6)
}
