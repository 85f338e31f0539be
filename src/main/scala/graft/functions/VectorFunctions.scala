package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math over ARRAY<FLOAT>/ARRAY<DOUBLE> columns.
  *
  * The hot-path kernels (dot, cosine) are native codegen'd Catalyst
  * expressions (graft.expressions.VectorExpressions) — a tight primitive
  * loop instead of the HOF `aggregate(zip_with(...))` tree, which
  * allocates an intermediate array per row-pair. Both run the same
  * left-to-right double summation as the DuckDB oracle, so results agree
  * bit-for-bit. The HOF reference forms the specs compare against live
  * in the test tree (`graft.HofReference`).
  */
object VectorFunctions {
  import graft.expressions.VectorExpressions

  /** Elementwise product sum (native codegen loop). */
  def dot(a: Column, b: Column): Column = VectorExpressions.dotNative(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1,1]; NULL when either norm is 0 (native,
    * one pass over both arrays).
    */
  def cosine(a: Column, b: Column): Column = VectorExpressions.cosineNative(a, b)

  /** Squared L2 distance. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, v) => acc + v)

  /** Coordinate (j, i) of the deterministic hyperplane matrix: a
    * pseudo-random value in [-0.5, 0.5) derived from md5("p<j>_<i>") —
    * reproducible in plain SQL on any engine, no RNG state.
    */
  def planeCoord(j: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"p${j}_$i".getBytes("UTF-8"))
    val h = java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    h.toDouble / 4294967296.0 - 0.5
  }

  /** Random-hyperplane LSH signature: bit j = sign(v . plane_j). The
    * planes are LITERAL arrays baked into the plan (computed once at
    * plan time, constant-folded — never per row), and each projection is
    * a native codegen dot product. Hamming distance between signatures
    * estimates angular distance; bit-bands of the signature are the
    * bucketed ANN candidate structure (same banding trick as MinHash).
    */
  def hyperplaneSignature(v: Column, bits: Int, dim: Int): Column = {
    val vd = v.cast("array<double>")
    (0 until bits).map { j =>
      val plane = array((0 until dim).map(i => lit(planeCoord(j, i))): _*)
      when(dot(vd, plane) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
}
