package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math, twice: primitive-array versions for the mapPartitions
  * hot path (kNN), and Column versions built purely from
  * `org.apache.spark.sql.functions` higher-order functions so Catalyst
  * codegens them and the DuckDB oracle can mirror them.
  * Reference distance semantics: `np.linalg.norm(a - b)` (watermarking.py:198).
  */
object VectorOps {

  /** Squared L2 as the engine's one fold: `acc := acc + (double(a_i) −
    * double(b_i))²` left to right from 0.0 — the subtraction in DOUBLE, so
    * `l2` is bit-identical to FoldL2Expr (the SQL scoring joins) and to the
    * DuckDB lambda fold every oracle replays.
    */
  def sqDist(a: Array[Float], b: Array[Float]): Double = {
    if (a.length != b.length) throw new IllegalArgumentException(
      s"graft fold kernel: dimension mismatch (${a.length} vs ${b.length})")
    sqDist(a, b, 0)
  }

  /** `a` against the `a.length` floats of `flat` from `off` — one row of a
    * row-major flat index (Knn.FlatIndex), same fold as above.
    */
  def sqDist(a: Array[Float], flat: Array[Float], off: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - flat(off + i).toDouble
      s += d * d; i += 1
    }
    s
  }

  def l2(a: Array[Float], b: Array[Float]): Double = math.sqrt(sqDist(a, b))

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val na = norm(a); val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  // ---- Column forms ----
  //
  // Native Expressions (FoldExprs.scala), not higher-order functions: the
  // HOF forms (`aggregate(zip_with(...))`) evaluate INTERPRETED — every HOF
  // is a whole-stage-codegen fallback, so a scoring join's generated
  // pipeline breaks at its hottest expression and pays a lambda closure per
  // element per row. The native folds are the identical arithmetic (same
  // fold order, same double ops — KernelProperties pins bit-equality
  // against the HOF twins below; the whole oracle surface re-proves it
  // every Verify run) as one fused Java loop inside the pipeline. Inputs
  // must be ARRAY<FLOAT> (analysis-time check).

  /** sqrt(sum((a_i - b_i)^2)) in double — sequential fold from 0.0. */
  def l2Col(a: Column, b: Column): Column = FoldL2Expr(a, b)

  def dotCol(a: Column, b: Column): Column = FoldDotExpr(a, b)

  def normCol(a: Column): Column = sqrt(dotCol(a, a))

  def cosineCol(a: Column, b: Column): Column =
    dotCol(a, b) / (normCol(a) * normCol(b))

  /** HOF twins, kept ONLY as the independent reference the property test
    * pins the native expressions against (and as the fallback shape for a
    * non-float array input, should one ever appear).
    */
  private[graft] def l2ColHof(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x))

  private[graft] def dotColHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
}
