package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Materialization helpers for iterative operators. */
object Materialize {

  /** Eagerly `localCheckpoint`s `df` and returns the checkpoint together
    * with `aggs` evaluated over its rows, both from the checkpoint's ONE
    * job: the aggregates ride along as an [[Observation]] on the frame
    * being materialized, so reading a convergence sum, a checksum or a
    * key set off a fresh checkpoint costs no second pass over it.
    *
    * `aggs` must be aggregate expressions (as in `Dataset.observe`); over
    * an empty frame they take their empty-input values (a `sum` is null,
    * a `count` 0, a `collect_set` empty). The values are read from the
    * checkpoint's executed plan as soon as the job returns, not awaited
    * from the listener that completes the Observation asynchronously: a
    * dropped listener event cannot hang the caller. */
  def observed(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    require(aggs.nonEmpty, "observed needs at least one aggregate")
    val obs = Observation()
    val watched = df.observe(obs, aggs.head, aggs.tail: _*)
    val cp = atCaller(df.sparkSession.sparkContext)(watched.localCheckpoint())
    val row = watched.queryExecution.observedMetrics.getOrElse(obs.name,
      throw new IllegalStateException(s"observation ${obs.name} missing from the executed plan"))
    (cp, row)
  }

  /** Runs `body` under the short call site Spark would give a checkpoint
    * taken by the code that called into this object ("localCheckpoint at
    * TxStore.scala:363"), so its SQL execution and jobs stay attributed to
    * the operator, not to this helper. A call site the thread already
    * carries wins, as it would for a direct checkpoint. */
  private def atCaller[T](sc: SparkContext)(body: => T): T = {
    val key = "callSite.short" // the property SparkContext.setCallSite sets
    val caller = new Throwable().getStackTrace
      .find(!_.getClassName.startsWith(getClass.getName))
    if (sc.getLocalProperty(key) != null || caller.isEmpty) body
    else {
      sc.setCallSite(s"localCheckpoint at ${caller.get.getFileName}:${caller.get.getLineNumber}")
      try body finally sc.setLocalProperty(key, null)
    }
  }
}
