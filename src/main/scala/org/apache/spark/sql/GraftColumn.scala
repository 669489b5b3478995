package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, InSet,
  Literal}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** Bridge between graft's native Catalyst expressions and the public Column
  * API (Spark 4 hides Expression↔Column conversion behind
  * `private[sql] classic.ExpressionUtils`; this shim is the standard
  * extension-library access pattern — no Spark internals are modified).
  */
object GraftColumn {
  def of(e: Expression): Column = ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = ExpressionUtils.expression(c)

  /** A literal of type `t` holding the external value `v` (a `Row` for a
    * struct type), converted the way `createDataFrame` converts it.
    */
  def literal(v: Any, t: DataType): Column = of(Literal.create(v, t))

  /** `x IN literals` as one `InSet`, built directly: below
    * `OptimizeIn`'s threshold an `In` stays an inlined chain of
    * comparisons, while an `InSet` references its value set from the
    * generated code, so two plans differing only in the set compile to
    * the same class. No type coercion runs: `x` must have type `t`, and
    * each literal is cast to `t` in the session's time zone.
    */
  def inSet(x: Column, literals: Seq[Column], t: DataType): Column = {
    val tz = Option(SQLConf.get.sessionLocalTimeZone)
    of(InSet(expressionOf(x),
      literals.map(l => Cast(expressionOf(l), t, tz).eval()).toSet))
  }

  /** Register graft's SQL functions on an ALREADY-RUNNING session (the
    * SparkSessionExtensions path only applies at session construction).
    */
  def registerFunctions(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_array_dot",
      es => graft.functions.ArrayDotProduct(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_array_sqdist",
      es => graft.functions.ArraySqDist(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_word_shingles",
      es => graft.functions.WordShingles(es(0),
        graft.GraftExtensions.intArg(es, 1)), "built-in")
  }
}
