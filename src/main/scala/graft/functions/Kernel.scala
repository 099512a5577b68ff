package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.DataType

/** The one Catalyst binding for every native kernel in this package.
  *
  * A kernel is a static method over Catalyst's internal values
  * (`UTF8String`, `ArrayData`, `long`, …) that returns the internal value
  * of `dataType`. This node binds it by name: generated code calls
  * `kernel(children…, consts…)` directly, so the surrounding projection
  * stays one whole-stage-codegen span (no CodegenFallback, no UDF), and
  * interpreted eval calls the same method by reflection.
  *
  * @param name     SQL name: `prettyName`, `sql` and unaliased column names
  *                 read `name(child, …)`
  * @param kernel   fully qualified static method, e.g.
  *                 `graft.functions.VectorOps.dotKernel`
  * @param argTypes expected child types, compared structurally with
  *                 nullability and struct field names ignored
  * @param consts   trailing per-expression arguments, kept out of
  *                 `children`: an `Int` is inlined as a Java literal, any
  *                 other value is passed as a reference object
  * @param nullResult the kernel may return null for non-null input, so the
  *                 result is nullable and a null return sets isNull
  *
  * Null in any child gives null out without calling the kernel.
  */
case class Kernel(
    name: String,
    kernel: String,
    children: Seq[Expression],
    argTypes: Seq[DataType],
    dataType: DataType,
    consts: Seq[Any] = Nil,
    nullResult: Boolean = false) extends Expression {

  override def prettyName: String = name
  override def nullable: Boolean = nullResult || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType).corresponds(argTypes)(
        DataType.equalsStructurally(_, _, ignoreNullability = true)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires ${argTypes.map(_.catalogString).mkString(", ")}, got " +
        children.map(_.dataType.catalogString).mkString(", "))

  @transient private lazy val method: java.lang.reflect.Method = {
    val dot = kernel.lastIndexOf('.')
    val arity = children.length + consts.length
    Class.forName(kernel.take(dot), true, getClass.getClassLoader).getMethods
      .find(m => m.getName == kernel.drop(dot + 1) && m.getParameterCount == arity)
      .getOrElse(throw new NoSuchMethodException(s"$kernel with $arity arguments"))
  }

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + consts.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    consts.foreach { c => args(i) = c.asInstanceOf[AnyRef]; i += 1 }
    try method.invoke(null, args: _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val constArgs = consts.map {
      case i: Int => i.toString
      case ref => ctx.addReferenceObj(s"${name}Const", ref, ref.getClass.getCanonicalName)
    }
    val call = s"${ev.value} = $kernel(${(gens.map(_.value.toString) ++ constArgs).mkString(", ")});" +
      (if (nullResult) s"\nif (${ev.value} == null) { ${ev.isNull} = true; }" else "")
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    if (nullable) {
      // each child is computed only when the ones before it are non-null
      val body = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((c, g), inner) => g.code.toString + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $body""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code).reduce(_ + _)}
        $javaType ${ev.value} = $default;
        $call""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Kernel = copy(children = newChildren)

  /** `name(children…, consts…)`; a non-Int constant prints as its Java type. */
  override def toString: String =
    (children.map(_.toString) ++ consts.map {
      case i: Int => i.toString
      case ref => ref.getClass.getSimpleName
    }).mkString(s"$name(", ", ", ")")
}

object Kernel {
  /** The Column form of a [[Kernel]] over `args`. */
  def column(name: String, kernel: String, args: Seq[Column],
      argTypes: Seq[DataType], dataType: DataType,
      consts: Seq[Any] = Nil, nullResult: Boolean = false): Column =
    ColumnShim.column(Kernel(name, kernel, args.map(ColumnShim.expression),
      argTypes, dataType, consts, nullResult))
}
