package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4 moved
  * it behind `classic.ExpressionUtils` during the Connect refactor).
  * Standard extension-package pattern: this object lives in
  * `org.apache.spark.sql` solely to re-export the two conversions graft's
  * custom expressions need.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Unload every loaded state-store provider on this JVM's executors
    * (`StateStore.unloadAll` is `private[sql]`). The scale harness uses
    * it to take clean per-run heap readings: a stopped query's
    * providers otherwise stay loaded (state in heap on the default
    * backend) until the 60 s maintenance cadence notices, which smears
    * one query's state into the next query's measurement. Providers
    * reload on demand, so this is always safe — just a cold start for
    * whichever stream touches state next.
    */
  def unloadStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()

  /** `SparkSession.cloneSession()` (`private[sql]`): a child session that
    * starts from a copy of `spark`'s runtime conf, temp views and
    * registered functions and shares its SparkContext and cache manager.
    * Conf written on the clone never reaches `spark`.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `ds`'s analyzed plan as a Dataset of `session`: later planning and
    * actions read `session`'s conf. The cache manager is shared between a
    * session and its clones, so cached data in the plan is still found.
    * `ds` itself when it already belongs to `session`.
    */
  def rebind[T](ds: Dataset[T], session: SparkSession): Dataset[T] =
    if (ds.sparkSession eq session) ds
    else classic.Dataset(session.asInstanceOf[classic.SparkSession],
      ds.queryExecution.analyzed)(ds.encoder)
}
