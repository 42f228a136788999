package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}

/** Spark 4 Column ↔ catalyst Expression bridge. The Column companion is
  * `private[sql]` since the Connect split, so extensions expose custom
  * Catalyst expressions through a shim in the sql package — the same
  * pattern Spark's own classic module uses internally
  * (org.apache.spark.sql.classic.ColumnConversions).
  */
object Bridge {
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}

/** Scratch state that a returned lazy frame still reads after the code
  * that made it has returned (a query's seen store or index table), so it
  * cannot be deleted in a `finally`. Spark's `private[spark]`
  * `Utils.createTempDir` makes `<java.io.tmpdir>/<prefix>-<uuid>` and
  * registers it for recursive deletion when the JVM exits. */
object ScratchDir {
  def apply(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).getPath
}
