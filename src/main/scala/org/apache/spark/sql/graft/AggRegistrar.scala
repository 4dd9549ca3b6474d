package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL-name registration for native expressions: `spark.udf` installs
  * only ScalaUDFs, so a TypedImperativeAggregate, or a Column form that
  * is one direct kernel call, goes through the session's
  * FunctionRegistry (private[sql] — hence the package). The analyzer
  * wraps a returned AggregateFunction in its AggregateExpression exactly
  * as for built-in aggregates.
  */
object AggRegistrar {

  /** `name(a1, …, a<arity>)` as the expression `build` makes of its
    * argument columns — the SQL name runs the same code as the Column
    * function it calls
    */
  def registerNative(spark: SparkSession, name: String, arity: Int)(
      build: Seq[Column] => Column): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      (exprs: Seq[Expression]) => {
        if (exprs.length != arity)
          throw new IllegalArgumentException(
            s"$name takes $arity arguments, got ${exprs.length}")
        // converted by the session, not ExprBridge: a SQL call is not
        // analysed as a Dataset column, so nested column nodes (a cast
        // the Column function adds) must become expressions here
        session.expression(build(exprs.map(ExprBridge.column)))
      },
      "scala_udf")
  }

  /** the value of an INTEGER LITERAL argument, or a raise naming `what`
    * it configures
    */
  def intLiteral(name: String, what: String, arg: Column): Int =
    ExprBridge.expression(arg) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$name: $what must be an integer literal, got $other")
    }

  /** `kmv_distinct(value, k)` — k must be an INTEGER LITERAL (it sizes
    * the aggregation buffer, which must be known at plan time).
    */
  def registerKmv(spark: SparkSession): Unit =
    registerNative(spark, "kmv_distinct", 2) { args =>
      ExprBridge.column(KmvSketchAgg(ExprBridge.expression(args.head),
        intLiteral("kmv_distinct", "k (it sizes the aggregation buffer)", args(1))))
    }
}
