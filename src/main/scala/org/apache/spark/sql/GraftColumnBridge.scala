package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so the engine's
  * native Catalyst expressions ([[graft.functions.Md5Low64]],
  * [[graft.functions.Md5Words32]], and the five named functions of
  * [[graft.functions.GraftExtensions]]) can be used as Columns WITHOUT
  * per-session function registration: a Column helper then needs no
  * SparkSession in scope and works on any session, extension or not.
  *
  * Lives in `org.apache.spark.sql` solely to satisfy the access
  * qualifier; no Spark internals are modified or shadowed.
  *
  * VERSION PIN (round-15 advisory): `classic.ExpressionUtils` is a
  * `private[sql]` API of the Spark 4.x "classic" module (new in 4.0,
  * not a stable surface). The build compiles against the image's
  * pinned /opt/spark/jars (4.1.2); on a Spark upgrade this file is the
  * FIRST thing to re-verify — if the converters move again, the public
  * fallback is the extension + `call_function`, which the five named
  * functions also support.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
