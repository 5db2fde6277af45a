package graft.expressions

import graft.ml.{RbmCore, RbmWeights}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native RBM up-down pass v' = σ(σ(vW+c)Wᵀ+b) over one encoded row —
  * the reconstruct step of [[graft.ml.RbmImputerModel.transform]].
  *
  * Why a custom Expression: the former `mapPartitions` over
  * `Encoders.row` turned every column of the caller's frame into an
  * external `Row` and back, only to run a small per-row pass. This
  * compiles (doGenCode) to one call per row into
  * [[graft.ml.RbmCore.reconstruct]], inside whole-stage codegen (an
  * interpreted `CodegenFallback` would have to materialise the input
  * row to call `eval`).
  *
  * The weights ship once per executor as a broadcast, read in their
  * row-major layout as they arrive; they are never inlined into the plan
  * (at the `maxCardinality` cap, 10⁴ visible × 16 hidden units, that
  * would be 1.3 MB per task).
  *
  * Arithmetic is the kernel's (RbmCore's parity contract). A null
  * element reads as 0.0, as the Row path's unboxing did; a null array
  * gives null; a vector whose length differs from nVisible THROWS — a
  * width mismatch means the weights belong to another layout.
  */
case class RbmReconstruct(child: Expression, weights: Broadcast[RbmWeights])
    extends UnaryExpression {

  @transient private lazy val wts = weights.value

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_rbm_reconstruct requires array<double>, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_rbm_reconstruct"

  // the broadcast handle stays out of plan strings
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  def reconstruct(a: ArrayData): ArrayData = {
    val nv = wts.nVisible
    if (a.numElements() != nv)
      throw new IllegalArgumentException(
        s"graft_rbm_reconstruct: input vector has ${a.numElements()} " +
          s"elements, the model has $nv visible units")
    val v = new Array[Double](nv)
    var i = 0
    while (i < nv) {
      if (!a.isNullAt(i)) v(i) = a.getDouble(i)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(RbmCore.reconstruct(wts, v))
  }

  override def nullSafeEval(input: Any): Any = reconstruct(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("rbm", this)
    defineCodeGen(ctx, ev, v => s"$self.reconstruct($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): RbmReconstruct =
    copy(child = newChild)
}
