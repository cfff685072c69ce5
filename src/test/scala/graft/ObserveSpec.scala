package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** Zero-extra-pass pipeline metrics via the Observation API — the
  * mechanism a production load would use to publish row counts and sums
  * for reconciliation without a second scan (the reference's per-stage
  * print/log equivalent, done right). */
class ObserveSpec extends SparkSpec {

  test("observe collects metrics in the same pass as the action") {
    val obs = Observation("load_stats")
    val df = Tables.orders(spark, sf)
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(Tables.dec(col("o_totalprice"))).cast("double").as("total"),
        max(col("o_orderdate")).as("latest"))
      .filter(col("o_orderstatus") === "F")
    val filtered = df.count()
    val m = obs.get
    assert(m("n_rows") == 1500L, "metrics observe the pre-filter stream")
    assert(filtered < 1500L)
    assert(m("total").asInstanceOf[Double] > 0)
  }

  test("Materialize.sliver: metrics arrive with the eager checkpoint in one job; an empty frame never blocks") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import spark.implicits._
    val sc = spark.sparkContext
    val group = "materialize-sliver-spec"
    // job ids reach the status tracker through the async listener bus:
    // poll until the group's job list stops growing (10 s cap)
    def settledJobs(): Set[Int] = {
      val deadline = System.nanoTime() + 10.seconds.toNanos
      var last = sc.statusTracker.getJobIdsForGroup(group).toSet
      var stable = 0
      while (stable < 6 && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val now = sc.statusTracker.getJobIdsForGroup(group).toSet
        if (now == last) stable += 1 else { last = now; stable = 0 }
      }
      last
    }
    sc.setJobGroup(group, "sliver")
    try {
      val before = settledJobs()
      val (out, m) = ops.Materialize.sliver(spark.range(1, 101).toDF("x"))(
        count(lit(1)).as("n"), sum(col("x")).as("s"))
      val jobs = settledJobs() -- before
      assert(jobs.size == 1, s"observe + eager checkpoint must be ONE job, saw ${jobs.size}")
      assert(m.getLong(0) == 100L && m.getLong(1) == 5050L)
      // the returned frame is the checkpoint: reading it recomputes nothing
      assert(out.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"))
      // empty input: count 0, sum null — and the call returns rather
      // than waiting on a metric that never fires
      val empty = Future(ops.Materialize.sliver(Seq.empty[Long].toDF("x"))(
        count(lit(1)).as("n"), sum(col("x")).as("s"))._2)
      val e = Await.result(empty, 60.seconds)
      assert(e.getLong(0) == 0L && e.isNullAt(1))
    } finally sc.clearJobGroup()
  }

  test("guard detection telemetry: detectHotKeys publishes its wall cost through GuardStats (VERDICT r20 item 5)") {
    import spark.implicits._
    val docs = (0L until 20L).map(id => (id, "k0 k0 k0 k0")).toDF("doc_id", "text")
    val toksK = (d: org.apache.spark.sql.DataFrame) =>
      d.select(explode(split(col("text"), " ")).as("k"))
    GuardStats.reset()
    assert(GuardStats.detectionSeconds == 0.0)
    val hot = ops.Curation.detectHotKeys(docs, toksK, hotMin = 10L,
      sampleFraction = 1.0, what = "test")
    assert(hot.contains("k0"))
    assert(GuardStats.detectionSeconds > 0.0,
      "the detection pass must record its wall cost")
    // the accounting never leaks into the next measurement once reset
    GuardStats.reset()
    assert(GuardStats.detectionSeconds == 0.0)
    // and the labeled job must restore the caller's description: a probe
    // run after detection must not attribute ITS stages to detection
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null,
      "detectHotKeys must restore the previous job description")
  }

  test("family re-run selection: degraded segments + widest spreads, train order, capped (r21 min vector)") {
    val order = Seq("a", "b", "c", "d", "e", "f")
    val spreads = Map("a" -> 0.1, "b" -> 5.0, "c" -> 0.2,
      "d" -> 3.0, "e" -> 0.0, "f" -> 4.0)
    // top-3 spreads are b/f/d; e's segment is degraded — all four
    // selected, in TRAIN order, no duplicates
    assert(FamilyBench.selectReruns(order, spreads, degraded = Set("e")) ==
      Seq("b", "d", "e", "f"))
    // a degraded query that is ALSO a top spread appears once
    assert(FamilyBench.selectReruns(order, spreads, degraded = Set("b")) ==
      Seq("b", "d", "f"))
    // no degradation, uniform spreads: exactly topSpread picks, ties
    // broken by name so the selection is deterministic
    val flat = order.map(_ -> 1.0).toMap
    assert(FamilyBench.selectReruns(order, flat, degraded = Set.empty) ==
      Seq("a", "b", "c"))
    // a fully-degraded train stops at the cap (re-run the window, not
    // every query)
    assert(FamilyBench.selectReruns(order, spreads, degraded = order.toSet,
      cap = 4) == Seq("a", "b", "c", "d"))
  }
}
