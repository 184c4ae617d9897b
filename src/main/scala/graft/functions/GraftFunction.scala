package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The shape of graft's native `graft_*` expressions: one static `*Support`
  * call over one, two or three inputs, stated once for interpreted eval
  * (`call`) and once as the Java that generated code runs (`callCode`).
  * Everything around the call lives here:
  *  - the analysis-time input check — `<sqlName> requires <requires>, got
  *    <types>` — so a wrong column type fails the query instead of hashing
  *    whatever the bytes happen to be;
  *  - null intolerance: a NULL input gives NULL without calling the
  *    support method;
  *  - with `nullResult`, a NULL answer from the support method (input it
  *    cannot read) becomes SQL NULL; a primitive result then comes back
  *    boxed and is unboxed here;
  *  - the `nullSafeCodeGen` scaffolding.
  * Subclass through [[GraftUnary]], [[GraftBinary]] or [[GraftTernary]].
  * Those are Serializable so that Java deserialization of a task's plan
  * restores their constructor fields instead of looking for a no-arg
  * constructor they do not have.
  */
trait GraftFunction extends Expression {
  def sqlName: String
  /** What the inputs must be, as the error message says it. */
  protected def requires: String
  protected def accepts: Seq[DataType => Boolean]
  protected def nullResult: Boolean

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = nullResult || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = children.map(_.dataType)
    if (types.corresponds(accepts)((t, ok) => ok(t))) TypeCheckResult.TypeCheckSuccess
    else {
      // the got-list takes the shape of the requires text: "(a, b)" or "a and b"
      val got = types.map(_.catalogString) match {
        case Seq(t) => t
        case ts if requires.startsWith("(") => ts.mkString("(", ", ", ")")
        case ts => ts.mkString(" and ")
      }
      TypeCheckResult.TypeCheckFailure(s"$sqlName requires $requires, got $got")
    }
  }

  /** The Java statements storing the answer of `call` in `ev`. */
  protected def store(ctx: CodegenContext, ev: ExprCode, call: String): String =
    if (!nullResult) s"${ev.value} = $call;"
    else if (CodeGenerator.isPrimitiveType(dataType)) {
      // freshName: over a non-nullable input nullSafeExec inlines this code
      // unbraced, and two instances in one scope must not redeclare a local
      val tmp = ctx.freshName("graftBoxed")
      val unbox = s"${CodeGenerator.javaType(dataType)}Value()"
      s"""
        ${CodeGenerator.boxedType(dataType)} $tmp = $call;
        if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.$unbox; }
      """
    } else
      s"""
        |${ev.value} = $call;
        |${ev.isNull} = ${ev.value} == null;
        |""".stripMargin

  protected final def bytes(a: Any): Array[Byte] = a.asInstanceOf[Array[Byte]]
  protected final def utf8(a: Any): UTF8String = a.asInstanceOf[UTF8String]
  protected final def array(a: Any): ArrayData = a.asInstanceOf[ArrayData]
}

abstract class GraftUnary(
    val sqlName: String,
    protected val requires: String,
    input: DataType => Boolean,
    protected val nullResult: Boolean = false
) extends UnaryExpression with GraftFunction with Serializable {
  protected def accepts: Seq[DataType => Boolean] = Seq(input)
  protected def call(a: Any): Any
  protected def callCode(ctx: CodegenContext, a: String): String

  final override protected def nullSafeEval(a: Any): Any = call(a)
  final override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => store(ctx, ev, callCode(ctx, a)))
}

abstract class GraftBinary(
    val sqlName: String,
    protected val requires: String,
    first: DataType => Boolean,
    second: DataType => Boolean,
    protected val nullResult: Boolean = false
) extends BinaryExpression with GraftFunction with Serializable {
  protected def accepts: Seq[DataType => Boolean] = Seq(first, second)
  protected def call(a: Any, b: Any): Any
  protected def callCode(ctx: CodegenContext, a: String, b: String): String

  final override protected def nullSafeEval(a: Any, b: Any): Any = call(a, b)
  final override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => store(ctx, ev, callCode(ctx, a, b)))
}

abstract class GraftTernary(
    val sqlName: String,
    protected val requires: String,
    first: DataType => Boolean,
    second: DataType => Boolean,
    third: DataType => Boolean
) extends TernaryExpression with GraftFunction with Serializable {
  protected val nullResult: Boolean = false
  protected def accepts: Seq[DataType => Boolean] = Seq(first, second, third)
  protected def call(a: Any, b: Any, c: Any): Any
  protected def callCode(ctx: CodegenContext, a: String, b: String, c: String): String

  final override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = call(a, b, c)
  final override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => store(ctx, ev, callCode(ctx, a, b, c)))
}

object GraftFunction {
  val isString: DataType => Boolean = _ == StringType
  val isBinary: DataType => Boolean = _ == BinaryType
  val isInt: DataType => Boolean = _ == IntegerType
  val isLong: DataType => Boolean = _ == LongType
  /** array<float> or array<double>: an embedding vector. */
  val isVector: DataType => Boolean = {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  def isArrayOf(element: DataType): DataType => Boolean = {
    case ArrayType(`element`, _) => true
    case _ => false
  }
  /** array<float>: the vector expressions read it as floats, else as doubles. */
  val isFloatArray: DataType => Boolean = isArrayOf(FloatType)

  /** `make` over the columns' expressions, as a Column. */
  def column(make: Expression => Expression, a: Column): Column =
    ColumnShim.column(make(ColumnShim.expression(a)))
  def column(make: (Expression, Expression) => Expression, a: Column, b: Column): Column =
    ColumnShim.column(make(ColumnShim.expression(a), ColumnShim.expression(b)))
  def column(
      make: (Expression, Expression, Expression) => Expression,
      a: Column,
      b: Column,
      c: Column): Column =
    ColumnShim.column(make(ColumnShim.expression(a), ColumnShim.expression(b), ColumnShim.expression(c)))
}
