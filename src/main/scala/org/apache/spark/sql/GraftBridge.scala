package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 removed the public `new Column(Expression)` constructor; the
  * supported conversion lives in `org.apache.spark.sql.classic.ExpressionUtils`
  * which is `private[sql]`. This bridge (compiled into the sql package, the
  * standard pattern for Spark extension libraries) re-exports the two
  * conversions graft's custom Catalyst expressions need.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Unload every state-store provider loaded in this JVM (r15). A
    * terminated AvailableNow stream leaves its providers in
    * `StateStore.loadedProviders` until the 60 s maintenance tick notices
    * they are inactive — each holding its in-memory state maps and each
    * snapshotted by every maintenance pass until then. A run-to-completion
    * streaming entry should drop them eagerly: the query is finished, the
    * state is dead weight. Safe by construction — a provider for a LIVE
    * query that gets unloaded is simply reloaded from its checkpoint on
    * the next batch (correctness unaffected; graft's declared entries run
    * one stream at a time anyway). */
  def unloadAllStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()
}
