package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** The library's one materialize-and-observe step. */
object Materialize {

  /** Materializes `df` with an eager `localCheckpoint` and returns the
    * checkpointed frame together with `metrics` evaluated over its rows
    * (one Row, fields in argument order). The metrics ride the
    * checkpoint's own job as `observe` metrics, so a total, max or
    * fixpoint signature costs no second scan, agg job or 1-row
    * broadcast: callers re-enter it as a literal.
    *
    * Contract, stated once for every caller:
    *  - The checkpoint runs HERE and is always eager. An observation
    *    only fires when a job executes the frame, so a lazy checkpoint
    *    followed by a read of the metrics would block forever; there is
    *    deliberately no way to pass one in.
    *  - On an empty frame `count` is 0 and `sum`/`max`/`min` are null.
    *    A caller that needs a literal either way wraps the metric in
    *    `coalesce`.
    *  - The checkpoint is local: its blocks live on the executors that
    *    wrote them and cannot be recomputed after executor loss. */
  def sliver(df: DataFrame)(metrics: Column*): (DataFrame, Row) = {
    require(metrics.nonEmpty, "sliver needs at least one metric")
    val obs = Observation()
    val out = df.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint(true)
    (out, Await.result(obs.future, Duration.Inf))
  }
}
