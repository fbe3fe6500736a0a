package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}

/** Codegen bridge for the fused text-kernel family: instead of
  * `CodegenFallback` — which forces the WHOLE enclosing stage out of
  * WholeStageCodegen, interpreting every surrounding expression (the
  * tokenizer regexps before a kernel, the band-key md5/concat_ws
  * after it) — generate a one-line invoke of the kernel's own eval
  * through a reference object, so the stage stays fused and the
  * kernel remains exactly the imperative per-doc loop it was.
  *
  * The per-row cost is one virtual call + one checked cast —
  * identical cost class to the boxed call CodegenFallback made, and
  * noise next to the per-doc md5/scan loops inside. What changes is
  * the NEIGHBORS: measured on the MinHash signature→band-key chain
  * at factor 100 (BENCH_NOTES "Round 12: kernel codegen A/B"),
  * fusing the stage cut wall time ~11% and collapsed the
  * run-to-run spread. [[MinhashSig]] uses the same shape with a
  * direct static invoke (object static forwarder) — measured first,
  * kept as written; this trait generalizes the decision to kernels
  * whose parameters (e.g. a `Seq[Int]`) don't flatten into a static
  * Java call site.
  *
  * Mix in INSTEAD of CodegenFallback. `kernelEval` must behave like
  * `nullSafeEval` (it defaults to exactly that); set
  * `resultNullable` if eval can return null for non-null input. */
trait KernelCodegen extends UnaryExpression {

  /** Whether eval can return null for a non-null input (e.g. the
    * tokenless-doc contract of [[MinhashSig]]). */
  protected def resultNullable: Boolean = false

  /** Public bridge the generated code calls (nullSafeEval itself is
    * protected). */
  def kernelEval(input: Any): Any = nullSafeEval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this,
      classOf[KernelCodegen].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val call = s"${ev.value} = (${CodeGenerator.javaType(dataType)}) " +
        s"$ref.kernelEval($c);"
      if (resultNullable)
        call + s"\nif (${ev.value} == null) { ${ev.isNull} = true; }"
      else call
    })
  }
}
