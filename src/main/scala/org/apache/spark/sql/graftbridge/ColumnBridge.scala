package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters —
  * the sanctioned pattern for libraries that ship custom Catalyst
  * expressions (Spark 4 routes the public Column API through ColumnNodes,
  * so lifting a raw `Expression` needs these two calls), plus the one
  * `SQLConf` read a graft expression makes. Nothing else in this
  * package: keep the sql-package surface minimal. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `spark.sql.icu.caseMappings.enabled` of the active session: whether
    * `lower` maps a non-ASCII string through ICU. */
  def icuCaseMappings: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
}
