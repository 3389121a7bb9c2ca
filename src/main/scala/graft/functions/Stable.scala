package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** Identity wrapper that reports itself NON-deterministic to fence the
  * optimizer — the Scala-side twin of the guide's
  * `udf.asNondeterministic()` remedy for duplicated evaluation
  * (spark_optimization_guide §4.4).
  *
  * Why it exists: Catalyst freely clones expression trees — a `Filter`
  * on a projected column is pushed below the `Project` by substituting
  * the column's FULL defining expression into the predicate, and
  * `CollapseProject` inlines aliases into consumers — so an expensive
  * per-row kernel (normalization, the language-ID and quality signals)
  * referenced by a gate filter is evaluated once for the pushed-down
  * predicate and AGAIN for the surviving row's projection. On the
  * streaming curate chain, where no cache can sit between the gates,
  * the measured blowup was ~3.3x the one-evaluation kernel cost
  * (8.3 s vs ~2.5 s over the sf0.1 corpus — see OPTIMIZATION_r15.md).
  *
  * Wrapping the alias in `Stable` stops both rules: non-deterministic
  * project fields block predicate pushdown through the projection, and
  * non-deterministic aliases are never inlined. Evaluation semantics
  * are UNCHANGED — eval and codegen delegate to the child untouched,
  * so the value, nullability and type are the child's own (the wrapper
  * lies only about determinism, trading optimizer freedom for a
  * guaranteed single evaluation). Use it on expensive per-row kernels
  * whose columns are consumed by a filter in the same (uncached)
  * pipeline; do NOT blanket-apply — it also blocks legitimate pushdown
  * of OTHER predicates past the projection (the guide's caveat).
  */
case class Stable(child: Expression) extends UnaryExpression {

  /** The whole point: never reorder, duplicate or constant-fold this. */
  override lazy val deterministic: Boolean = false

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val e = child.genCode(ctx)
    ev.copy(code = e.code, isNull = e.isNull, value = e.value)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object Stable {
  /** Column-API form: `stable(expensiveCol)` — see class doc. */
  def col(c: Column): Column =
    ColumnBridge.column(Stable(ColumnBridge.expression(c)))
}
