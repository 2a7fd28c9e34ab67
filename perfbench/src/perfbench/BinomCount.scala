package perfbench

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DataType
import org.apache.spark.util.LongAccumulator

import graft.functions.BinomSf

/** The engine's `binom_sf` expression with a counter: every evaluation,
  * on the driver or in a task, adds one to `evals`. The value and the
  * generated code of the wrapped expression are unchanged.
  */
final case class CountedBinomSf(child: Expression, evals: LongAccumulator)
    extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    evals.add(1L)
    child.eval(input)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acc = ctx.addReferenceObj("binomSfEvals", evals)
    val c = child.genCode(ctx)
    ev.copy(code = code"${c.code}\n$acc.add(1L);", isNull = c.isNull,
      value = c.value)
  }

  override protected def withNewChildInternal(c: Expression): CountedBinomSf =
    copy(child = c)
}

/** Optimizer rule wrapping each `binom_sf` in a [[CountedBinomSf]] while
  * `BinomCount.evals` is set; plans are left alone otherwise.
  */
object BinomCount extends Rule[LogicalPlan] {
  @volatile var evals: LongAccumulator = _

  private def wrap(acc: LongAccumulator)(e: Expression): Expression = e match {
    case c: CountedBinomSf => c
    case b: BinomSf => CountedBinomSf(b, acc)
    case other => other.mapChildren(wrap(acc))
  }

  def apply(plan: LogicalPlan): LogicalPlan = {
    val acc = evals
    if (acc == null) plan
    else plan.transform { case p => p.mapExpressions(wrap(acc)) }
  }
}

/** `spark.sql.extensions` entry that installs [[BinomCount]]; the traced
  * fithic_cli run uses it to count the tails the CLI evaluates.
  */
final class BinomCountExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => BinomCount)
}
