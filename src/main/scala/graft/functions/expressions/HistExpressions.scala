package graft.functions.expressions

import org.apache.spark.ml.linalg.{SQLDataTypes, Vector}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, ShortType, UserDefinedType}

import graft.ml.HistTree

/** A feature vector's histogram bins under a fit-time dictionary:
  * `bins.binRow(v)` as `array<smallint>`, null for a null vector.
  * Dense and sparse vectors both decode through the vector UDT.
  *
  * Both eval paths call [[binsOf]], so `Bins.binRow` stays the one
  * binning implementation; the generated code only reaches it through
  * a reference to this expression.
  */
case class HistBins(child: Expression, bins: HistTree.Bins)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(ShortType, containsNull = false)
  override def prettyName: String = "hist_bins"
  override def toString: String =
    s"$prettyName($child, ${bins.numFeatures} features)"

  def binsOf(vector: Any): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      bins.binRow(HistBins.vectorType.deserialize(vector)))

  override protected def nullSafeEval(vector: Any): Any = binsOf(vector)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("histBins", this)
    defineCodeGen(ctx, ev, v => s"$self.binsOf($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): HistBins =
    copy(child = newChild)
}

object HistBins {
  // VectorUDT is private[spark]; its public handle decodes the row form
  private val vectorType =
    SQLDataTypes.VectorType.asInstanceOf[UserDefinedType[Vector]]
}

/** The leaf a row of bins reaches in `tree`: `tree.leafOfBins(b)`,
  * null for null bins. The routing step of every boosting stage, at
  * fit and at predict time; like [[HistBins]], both eval paths call
  * the one Scala walk.
  */
case class HistLeaf(child: Expression, tree: HistTree.Tree)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "hist_leaf"
  override def toString: String =
    s"$prettyName($child, ${tree.splits.size} splits)"

  def leafOf(bins: ArrayData): Int = tree.leafOfBins(bins.toShortArray())

  override protected def nullSafeEval(bins: Any): Any =
    leafOf(bins.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("histLeaf", this)
    defineCodeGen(ctx, ev, b => s"$self.leafOf($b)")
  }

  override protected def withNewChildInternal(newChild: Expression): HistLeaf =
    copy(child = newChild)
}
