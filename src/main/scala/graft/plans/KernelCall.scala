package graft.plans

import java.lang.invoke.{MethodHandle, MethodHandles}
import java.lang.reflect.Modifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** An argument a kernel passes to its method after the children's values. */
sealed trait KernelArg

object KernelArg {
  /** A constant of the plan, spliced into the generated code as a Java
    * literal (Long, Int, Double or Boolean). */
  final case class Const(value: Any) extends KernelArg {
    def literal: String = value match {
      case v: Long => s"${v}L"
      case v @ (_: Int | _: Double | _: Boolean) => v.toString
    }
  }

  /** A driver-side object the generated code reads from the stage's
    * `references` as `javaType`; `name` labels it there. */
  final case class Ref(name: String, value: AnyRef, javaType: String) extends KernelArg
}

/**
 * The call protocol of a row-level kernel: one static `Ops` method applied
 * to the children's values and the kernel's extra arguments, NULL on a
 * NULL input. A kernel states its call once — its method, the input
 * types it accepts and its extras — and this trait derives from it:
 *  - the type check, `<name> requires <types>, got <types>`; an input
 *    matches when it has the declared shape, whatever its nullability and
 *    struct field names (no implicit cast: `getFloat` over a double-backed
 *    array would reinterpret bytes, not fail);
 *  - the interpreted call, through a `MethodHandle` on the same method,
 *    resolved once per expression instance;
 *  - the generated call, `value = Ops.method(args…, extras…)`, so the
 *    kernel stays fused inside whole-stage codegen.
 * Extend [[UnaryKernelCall]] or [[BinaryKernelCall]].
 */
trait KernelCall extends Expression {

  /** The static method, qualified, as the generated code spells it:
    * `graft.corpus.VectorOps.dot`. */
  def method: String

  /** The accepted type of each child, in order. */
  def accepts: Seq[DataType]

  /** The arguments after the children's values. */
  def extras: Seq[KernelArg] = Nil

  /** True when the method may return null for non-null inputs: the result
    * is then NULL rather than a null value. */
  def nullResult: Boolean = false

  override def nullable: Boolean = nullResult || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    if (got.length == accepts.length && accepts.zip(got).forall((KernelCall.fits _).tupled))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${KernelCall.show(accepts.map(_.simpleString))}, " +
        s"got ${KernelCall.show(got.map(_.sql))}")
  }

  @transient private lazy val handle: MethodHandle = KernelCall.resolve(method)

  @transient private lazy val extraValues: Seq[AnyRef] = extras.map {
    case KernelArg.Const(v) => v.asInstanceOf[AnyRef]
    case KernelArg.Ref(_, v, _) => v
  }

  /** The interpreted call over the children's (non-null) values. */
  protected final def callKernel(inputs: Any*): Any =
    handle.invokeWithArguments(inputs.map(_.asInstanceOf[AnyRef]) ++ extraValues: _*)

  /** The generated call over the children's value terms. The references
    * are added here, before the children generate their code. */
  protected final def callCode(ctx: CodegenContext, ev: ExprCode): Seq[String] => String = {
    val extraTerms = extras.map {
      case c: KernelArg.Const => c.literal
      case KernelArg.Ref(name, v, javaType) => ctx.addReferenceObj(name, v, javaType)
    }
    val out = if (nullResult) ctx.freshName("kernelOut") else ""
    inputs => {
      val call = s"$method(${(inputs ++ extraTerms).mkString(", ")})"
      if (!nullResult) s"${ev.value} = $call;"
      else s"""
        ${handle.`type`.returnType.getName} $out = $call;
        if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
      """
    }
  }
}

object KernelCall {

  private def fits(want: DataType, got: DataType): Boolean = (want, got) match {
    case (ArrayType(w, _), ArrayType(g, _)) => fits(w, g)
    case (w: StructType, g: StructType) =>
      w.length == g.length && w.zip(g).forall(p => fits(p._1.dataType, p._2.dataType))
    case _ => want == got
  }

  private def show(types: Seq[String]): String =
    if (types.size == 1) types.head else types.mkString("(", ", ", ")")

  /** The one public static method `qualified` names. */
  private def resolve(qualified: String): MethodHandle = {
    val dot = qualified.lastIndexOf('.')
    val owner = Class.forName(qualified.substring(0, dot), true, getClass.getClassLoader)
    val name = qualified.substring(dot + 1)
    owner.getMethods.filter(m => m.getName == name && Modifier.isStatic(m.getModifiers)) match {
      case Array(m) => MethodHandles.publicLookup().unreflect(m)
      case found => throw new IllegalArgumentException(
        s"$qualified must name one public static method, found ${found.length}")
    }
  }
}

/** A kernel over one child. */
abstract class UnaryKernelCall extends UnaryExpression with KernelCall {
  override def nullSafeEval(input: Any): Any = callKernel(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = callCode(ctx, ev)
    nullSafeCodeGen(ctx, ev, a => call(Seq(a)))
  }
}

/** A kernel over two children. */
abstract class BinaryKernelCall extends BinaryExpression with KernelCall {
  override def nullSafeEval(left: Any, right: Any): Any = callKernel(left, right)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = callCode(ctx, ev)
    nullSafeCodeGen(ctx, ev, (a, b) => call(Seq(a, b)))
  }
}
