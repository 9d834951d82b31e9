package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{DataType, ObjectType}

/** How a kernel becomes a Catalyst expression: one Spark
  * [[StaticInvoke]] of a static method on an eval object
  * ([[SketchEval]], [[GeoEval]], [[VectorEval]]). Generated code calls
  * the method directly on Catalyst's internal values (UTF8String,
  * ArrayData, InternalRow, byte[]), so a kernel stays inside whole-stage
  * codegen with no UDF bridge and no row conversion.
  *
  * Every argument is an expression:
  *  - columns, cast to their declared input type by the analyzer;
  *  - plan-shape constants (a zoom, a k, a bit count) as plain
  *    `Literal`s, spelled into generated source like any literal;
  *  - data-derived doubles (key bounds, a precision grid, a query norm)
  *    as [[ParamLiteral]]s, which never appear in generated source;
  *  - reference tables (centroids, bitmaps, weights, split keys, merge
  *    lists) as [[ref]] literals, which Spark passes to the generated
  *    class through its `references` array.
  */
object Kernel {
  /** `method` of `evalObject` over `args`, each cast to its entry of
    * `inputTypes` (one per argument). A null argument yields null
    * without a call, which also tells the optimizer the kernel is null
    * intolerant (it infers `isnotnull` on the inputs of a join key or a
    * filter). `nullableResult` is for kernels that may themselves return
    * null, such as a decoder on a payload it cannot read.
    */
  def kernel(evalObject: AnyRef, method: String, dataType: DataType,
      args: Seq[Expression], inputTypes: Seq[DataType],
      nullableResult: Boolean = false): Expression = {
    require(args.length == inputTypes.length,
      s"$method: ${args.length} arguments, ${inputTypes.length} input types")
    StaticInvoke(evalObject.getClass, dataType, method, args, inputTypes,
      propagateNull = true, returnNullable = nullableResult)
  }

  /** A reference table as a literal argument: an object of its own
    * class, handed to the generated class as a reference, never spelled
    * into source. (Not `Literal.create`: it would convert an array into
    * Catalyst's `ArrayData`.)
    */
  def ref(v: AnyRef): Literal = Literal(v, refType(v))

  /** The input type a [[ref]] argument declares. */
  def refType(v: AnyRef): DataType = ObjectType(v.getClass)
}
