package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** The library's one materialize-and-observe step, and its one scope
  * for a shared intermediate.
  *
  * `sliver` checkpoints a frame eagerly and observes metrics on that
  * same job. `shared` caches a frame that several plan branches read,
  * runs an eager body over it and releases the cache when the body
  * returns or throws, so a long-lived session never keeps a
  * corpus-sized cache past the call that made it. Nothing else in the
  * library persists, caches or unpersists a frame. */
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

  /** Runs `body` over `df` persisted at `MEMORY_AND_DISK` and releases
    * the cache (`unpersist(false)`) in a `finally`, so a body that
    * throws leaks nothing. Scopes nest when a call shares several
    * frames; the inner one is released first.
    *
    * Contract: the body runs its plan eagerly. A `Dataset` result must
    * be a checkpoint (its analyzed plan a `LogicalRDD`, which
    * `localCheckpoint(true)` and [[sliver]] return); anything else is
    * a lazy plan that would run after its cache is released, and the
    * call throws `IllegalStateException` instead of returning it. The
    * check reads the plan the body already analyzed and runs no job.
    * Lazy work over the checkpoint belongs outside the scope. */
  def shared[T](df: DataFrame)(body: DataFrame => T): T = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val out = body(cached)
      out match {
        case ds: Dataset[_] if !ds.queryExecution.analyzed.isInstanceOf[LogicalRDD] =>
          throw new IllegalStateException("shared: the body returned a lazy plan, which " +
            "would run after its cache is released; end it with an eager checkpoint")
        case _ => out
      }
    } finally cached.unpersist(false)
  }
}
