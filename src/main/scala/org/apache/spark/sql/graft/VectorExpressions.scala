// In the org.apache.spark.sql package tree: custom Expressions need
// sql-private API surface (AbstractDataType for ExpectsInputTypes,
// ExpressionUtils for Column construction) that has no public
// equivalent in Spark 4.
package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** The vector kernels' math, one definition each: `eval` calls these
  * helpers directly and `doGenCode` emits a call to them, so the
  * interpreted and the generated path cannot drift apart. Numerics
  * are the exact IEEE754 sequence of the higher-order-function form
  * (and the DuckDB oracles): left-to-right accumulation in double,
  * each float upcast exactly. A metric is NULL on a length mismatch
  * or a NULL element (the zip_with+aggregate contract: zip_with pads
  * with null and the fold poisons to NULL; getFloat on a null slot
  * would silently read 0.0); such a result comes back as a null box.
  */
private[graft] object VecKernelUtil {
  /** Whether an array type's ELEMENTS may be null per the schema —
    * the per-element null probes run only then (containsNull=false
    * proves them dead). Each expression decides this once and passes
    * the answer in.
    */
  def mayNull(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].containsNull

  def isFloat(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType

  def anyNull(x: ArrayData): Boolean = {
    val n = x.numElements()
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return true
      i += 1
    }
    false
  }

  private def at(x: ArrayData, f: Boolean, i: Int): Double =
    if (f) x.getFloat(i).toDouble else x.getDouble(i)

  /** Σ xᵢ·yᵢ over equal-length vectors with no NULL element. */
  def dotFold(x: ArrayData, xf: Boolean,
              y: ArrayData, yf: Boolean): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      s += at(x, xf, i) * at(y, yf, i)
      i += 1
    }
    s
  }

  /** Σ (xᵢ − yᵢ)² over equal-length vectors with no NULL element. */
  def l2sqFold(x: ArrayData, xf: Boolean,
               y: ArrayData, yf: Boolean): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = at(x, xf, i) - at(y, yf, i)
      s += d * d
      i += 1
    }
    s
  }

  private def metricNull(x: ArrayData, y: ArrayData,
                         nullable: Boolean): Boolean =
    x.numElements() != y.numElements() ||
      nullable && (anyNull(x) || anyNull(y))

  def dot(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean,
          nullable: Boolean): java.lang.Double =
    if (metricNull(x, y, nullable)) null
    else java.lang.Double.valueOf(dotFold(x, xf, y, yf))

  def l2sq(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean,
           nullable: Boolean): java.lang.Double =
    if (metricNull(x, y, nullable)) null
    else java.lang.Double.valueOf(l2sqFold(x, xf, y, yf))

  /** √(Σ xᵢ²): the dot fold of `x` with itself, so each term is the
    * same vᵢ·vᵢ product.
    */
  def norm(x: ArrayData, xf: Boolean, nullable: Boolean): java.lang.Double =
    if (nullable && anyNull(x)) null
    else java.lang.Double.valueOf(math.sqrt(dotFold(x, xf, x, xf)))

  /** Java source that stores a helper call's boxed result into `ev`:
    * a null box sets `ev.isNull`, anything else is unboxed by
    * `unbox`.
    */
  def unboxInto(ctx: CodegenContext, ev: ExprCode, box: String,
                call: String, unbox: String => String): String = {
    val b = ctx.freshName("boxed")
    s"""
       |$box $b = $call;
       |if ($b == null) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = ${unbox(b)};
       |}
     """.stripMargin
  }

  /** [[unboxInto]] for the three double-valued kernels below. */
  def doubleInto(ctx: CodegenContext, ev: ExprCode, call: String): String =
    unboxInto(ctx, ev, "java.lang.Double",
      s"org.apache.spark.sql.graft.VecKernelUtil.$call",
      b => s"$b.doubleValue()")
}

import VecKernelUtil.{isFloat, mayNull}

/** Native, codegen'd float-vector kernels. The higher-order-function
  * form (`aggregate(zip_with(...))`) evaluates a lambda per element —
  * per-element virtual calls and boxed closures on the hottest loop of
  * similarity search. These expressions run one compiled primitive
  * loop per row instead. Each kernel's math lives in one
  * [[VecKernelUtil]] helper: `eval` calls it and `doGenCode` only
  * emits a call to it, so swapping the implementations never changes
  * a single bit of output.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  private lazy val lf = isFloat(left.dataType)
  private lazy val rf = isFloat(right.dataType)
  private lazy val elemNull =
    mayNull(left.dataType) || mayNull(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernelUtil.dot(a.asInstanceOf[ArrayData], lf,
      b.asInstanceOf[ArrayData], rf, elemNull)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => VecKernelUtil.doubleInto(ctx, ev,
      s"dot($a, $lf, $b, $rf, $elemNull)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance of two float vectors — the PQ codeword
  * assignment metric. Same shape and numeric contract as [[VecDot]]:
  * left-to-right double accumulation of (xᵢ − yᵢ)², so the DuckDB
  * oracle's elementwise `list_reduce` fold matches bit for bit.
  */
case class VecL2Sq(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_l2sq"

  private lazy val lf = isFloat(left.dataType)
  private lazy val rf = isFloat(right.dataType)
  private lazy val elemNull =
    mayNull(left.dataType) || mayNull(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernelUtil.l2sq(a.asInstanceOf[ArrayData], lf,
      b.asInstanceOf[ArrayData], rf, elemNull)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => VecKernelUtil.doubleInto(ctx, ev,
      s"l2sq($a, $lf, $b, $rf, $elemNull)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2Sq =
    copy(left = newLeft, right = newRight)
}

/** Euclidean norm of a float vector — same shape as [[VecDot]]. */
case class VecNorm(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  // nullable even over a non-null child: a NULL ELEMENT poisons the
  // result to NULL (the HOF-fold contract), same as VecDot/VecL2Sq
  override def nullable: Boolean = true
  override def prettyName: String = "vec_norm"

  private lazy val f = isFloat(child.dataType)
  private lazy val elemNull = mayNull(child.dataType)

  override def nullSafeEval(a: Any): Any =
    VecKernelUtil.norm(a.asInstanceOf[ArrayData], f, elemNull)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => VecKernelUtil.doubleInto(ctx, ev,
      s"norm($a, $f, $elemNull)"))

  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
}

/** Column wrappers over the native kernels. */
object VectorColumns {
  def vec_dot(a: Column, b: Column): Column =
    ExpressionUtils.column(VecDot(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def vec_norm(a: Column): Column =
    ExpressionUtils.column(VecNorm(ExpressionUtils.expression(a)))

  def vec_l2sq(a: Column, b: Column): Column =
    ExpressionUtils.column(VecL2Sq(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Arity-checked SQL builders — ONE list serving both registration
    * paths (imperative [[register]] and
    * `graft.functions.GraftExtensions`), so the wrong-arity guards
    * and the function set cannot drift between them: a wrong-arity
    * SQL call surfaces as an error naming the function, never an
    * IndexOutOfBoundsException from children(1).
    */
  def sqlBuilders: Seq[(String, String, Seq[Expression] => Expression)] = {
    def arity(name: String, n: Int)(cs: Seq[Expression])
        : Seq[Expression] = {
      if (cs.size != n)
        throw new IllegalArgumentException(
          s"$name expects $n argument${if (n == 1) "" else "s"}, " +
            s"got ${cs.size}")
      cs
    }
    Seq(
      ("vec_dot", classOf[VecDot].getName,
        (cs: Seq[Expression]) => {
          val c = arity("vec_dot", 2)(cs); VecDot(c(0), c(1)): Expression
        }),
      ("vec_norm", classOf[VecNorm].getName,
        (cs: Seq[Expression]) =>
          VecNorm(arity("vec_norm", 1)(cs).head): Expression),
      ("vec_l2sq", classOf[VecL2Sq].getName,
        (cs: Seq[Expression]) => {
          val c = arity("vec_l2sq", 2)(cs); VecL2Sq(c(0), c(1)): Expression
        }),
      ("hilbert_index", classOf[HilbertIndex].getName,
        // fromChildren carries its own arity require
        (cs: Seq[Expression]) => HilbertColumns.fromChildren(cs)),
      ("nfc_normalize", classOf[NfcNormalize].getName,
        (cs: Seq[Expression]) =>
          NfcNormalize(arity("nfc_normalize", 1)(cs).head): Expression))
  }

  /** Imperative registration into an existing session's function
    * registry (idempotent) — for sessions built without
    * `spark.sql.extensions=graft.functions.GraftExtensions`.
    */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, cls, build) =>
      reg.registerFunction(FunctionIdentifier(name),
        new ExpressionInfo(cls, name), build)
    }
  }
}
