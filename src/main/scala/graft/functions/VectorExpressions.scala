package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import Kernel.{kernel, ref, refType}

/** Codegen'd float-vector kernels for the embedding operators. Spark's
  * `zip_with`/`aggregate` higher-order functions evaluate their lambda
  * interpreted per element — a tight primitive loop is ~10x faster on
  * 64-dim embeddings and keeps the whole stage in codegen.
  *
  * Summation is sequential in index order (double accumulator), matching
  * the DuckDB oracle formulation exactly.
  */
object VectorEval {
  // NULL-ELEMENT SEMANTIC (applies to every array kernel here and in
  // SketchExpressions): a null element reads as 0.0f — both UnsafeArrayData
  // and GenericArrayData zero the value slot — i.e. standard zero
  // imputation for a missing component. A per-element isNullAt branch in
  // these hot loops would cost more than the (already-pinned) NaN/zero
  // similarity guards justify; callers that must distinguish should
  // filter array_contains(transform(v, isnull...)) upstream.

  /** dot(a, b) over float arrays, double accumulation, sequential.
    * Dimension mismatch is LOUD (the sq8Cosine rule): a shorter vector
    * would silently compute a plausible-looking PREFIX dot.
    */
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dot: dimension mismatch ${a.numElements()} vs ${b.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** cosine(a[0..d), b[0..d)) for each prefix length d in `dims`
    * (ascending) — ONE pass over the elements, snapshotting the three
    * accumulators at each boundary. Bit-identical to cosine(slice(a,
    * 1, d), slice(b, 1, d)) per tier (same sequential double sums in
    * the same order), at 1/4 the element reads and zero slice
    * allocations — the matryoshka (MRL) tier-scoring kernel.
    */
  def prefixCosines(a: ArrayData, b: ArrayData, dims: Array[Int]): ArrayData = {
    // DELIBERATE divergence from dotFF's loud-dims rule: prefix tiers
    // legitimately compare a truncated (matryoshka head) vector against
    // a full one — cosine over the COMMON prefix is the semantics, and
    // OpsSpec pins it ("ragged input: cosine over the common prefix").
    // Don't "fix" this to throw; tier clamping below uses the same min.
    val n = math.min(a.numElements(), b.numElements())
    val out = new Array[Double](dims.length)
    var acc = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    var d = 0
    while (d < dims.length) {
      val lim = math.min(dims(d), n)
      while (i < lim) {
        val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
        acc += x * y; na += x * x; nb += y * y
        i += 1
      }
      out(d) = acc / (math.sqrt(na) * math.sqrt(nb))
      d += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Column wrappers of the [[VectorEval]] kernels, each one
  * [[Kernel.kernel]] call (see [[SketchExpressions]] for how a kernel is
  * declared). No expression class remains here.
  */
object VectorExpressions {
  import GraftBridge.{column => col, expression => ex}

  // declared input types matter: getFloat over a double-backed array
  // would silently read garbage — the analyzer must cast or reject
  private val floats = ArrayType(FloatType)

  /** Column API: dot product of two float-array columns (double result). */
  def dot_f(a: Column, b: Column): Column =
    col(kernel(VectorEval, "dotFF", DoubleType, Seq(ex(a), ex(b)),
      Seq(floats, floats)))

  /** Per-prefix cosines in one element pass (see [[VectorEval.prefixCosines]]). */
  def prefix_cosines(a: Column, b: Column, dims: Seq[Int]): Column = {
    require(dims.nonEmpty && dims == dims.sorted,
      "prefix_cosines dims must be ascending")
    val ds = dims.toArray
    col(kernel(VectorEval, "prefixCosines", ArrayType(DoubleType, containsNull = false),
      Seq(ex(a), ex(b), ref(ds)), Seq(floats, floats, refType(ds))))
  }
}
