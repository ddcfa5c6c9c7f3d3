package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's `private[sql]` Column↔Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so the engine's
  * native Catalyst expressions ([[graft.functions.Md5Low64]],
  * [[graft.functions.Md5Words32]], and the five named functions of
  * [[graft.functions.GraftExtensions]]) can be used as Columns WITHOUT
  * per-session function registration: a Column helper then needs no
  * SparkSession in scope and works on any session, extension or not.
  * It also rebinds an analyzed plan into another session
  * ([[ofRows]]), which the HTTP server's serving profile for small
  * inputs uses ([[graft.sources.ApiServer]]).
  *
  * Lives in `org.apache.spark.sql` solely to satisfy the access
  * qualifier; no Spark internals are modified or shadowed.
  *
  * VERSION PIN (round-15 advisory): `classic.ExpressionUtils` and
  * `classic.Dataset.ofRows` are `private[sql]` APIs of the Spark 4.x
  * "classic" module (new in 4.0, not a stable surface). The build
  * compiles against the image's pinned /opt/spark/jars (4.1.2); on a
  * Spark upgrade this file is the FIRST thing to re-verify — if the
  * converters move again, the public fallback is the extension +
  * `call_function`, which the five named functions also support; if
  * `ofRows` moves, building the frame in the target session is.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The DataFrame of the already analyzed `plan` in `session`: it is
    * optimized, planned and executed under `session`'s confs, and
    * nothing that built `plan` runs again. */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(session), plan)
}
