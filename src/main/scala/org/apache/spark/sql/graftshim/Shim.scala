package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column<->Expression converters (the Spark
  * 4 Connect refactor removed the public `new Column(expr)` path).
  * Lives under org.apache.spark.sql so the private[sql] members
  * resolve; keep this file free of any logic.
  */
object Shim {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom LogicalPlan (Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (queryExecution is on the
    * classic Dataset). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Block until every listener event posted so far has been
    * delivered (LiveListenerBus is private[spark]). */
  def awaitListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Release the block-manager storage behind a `localCheckpoint()`ed
    * DataFrame (its plan is a LogicalRDD over the checkpointed RDD).
    * Dataset.unpersist only consults the CacheManager, which never
    * saw these blocks — without this, every checkpoint pins executor
    * storage for the JVM lifetime. No-op for non-checkpoint plans. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Flatten an UNRESOLVED predicate Column into its top-level AND
    * conjuncts of the shape `<column> <op> <integral literal>`, as
    * (columnName, op, value) with op ∈ {=, <, <=, >, >=} and reversed
    * comparisons normalized (`5 <= a` → (a, >=, 5)). Anything else —
    * OR branches, arithmetic, functions, non-integral literals,
    * qualified names — contributes NO conjunct (the caller must treat
    * that as "cannot constrain", never as "false"). This is the
    * manifest-pruning front end for DML: the commit log's min/max
    * stats understand exactly these shapes. Walks the public
    * ColumnNode tree (Columns no longer carry catalyst Expressions
    * in the Connect-era API). */
  def comparisonConjuncts(c: Column): Seq[(String, String, Long)] = {
    import org.apache.spark.sql.internal.{ColumnNode,
      Literal => NodeLiteral, UnresolvedAttribute => NodeAttr,
      UnresolvedFunction => NodeFn}
    val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=",
      "=" -> "=")
    def longOf(n: ColumnNode): Option[Long] = n match {
      case l: NodeLiteral => l.value match {
        case v: Int   => Some(v.toLong)
        case v: Long  => Some(v)
        case v: Short => Some(v.toLong)
        case v: Byte  => Some(v.toLong)
        case _        => None
      }
      case _ => None
    }
    def attrOf(n: ColumnNode): Option[String] = n match {
      case a: NodeAttr if a.nameParts.length == 1 => Some(a.nameParts.head)
      case _ => None
    }
    def walk(n: ColumnNode): Seq[(String, String, Long)] = n match {
      case f: NodeFn if f.functionName == "and" && f.arguments.length == 2 =>
        walk(f.arguments(0)) ++ walk(f.arguments(1))
      case f: NodeFn if flip.contains(f.functionName) &&
          f.arguments.length == 2 =>
        val Seq(l, r) = f.arguments
        (attrOf(l), longOf(r), attrOf(r), longOf(l)) match {
          case (Some(a), Some(v), _, _) => Seq((a, f.functionName, v))
          case (_, _, Some(a), Some(v)) => Seq((a, flip(f.functionName), v))
          case _                        => Nil
        }
      case _ => Nil
    }
    walk(c.node)
  }
}
