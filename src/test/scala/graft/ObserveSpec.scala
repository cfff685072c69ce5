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
    val ((out, m), jobs) = jobsOf("materialize-sliver-spec")(ops.Materialize.sliver(
      spark.range(1, 101).toDF("x"))(count(lit(1)).as("n"), sum(col("x")).as("s")))
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
  }

  test("connected components on a small graph: call to collected labels in at most 2 jobs") {
    import spark.implicits._
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L), (7L, 7L)).toDF("a_id", "b_id")
    val (got, jobs) = jobsOf("cc-finish-jobs-spec")(ops.Clusters.connectedComponents(edges).collect())
    assert(got.length == 8)
    // the input sliver and the collect of its pairs; the labels come
    // back as a local frame, so collecting them runs no job. The
    // star-only path runs 23 here (canonical sliver, rounds, except,
    // labels).
    assert(jobs.size <= 2, s"small-graph CC ran ${jobs.size} jobs (budget 2)")
  }

  test("q128 triangles: call to collected row in at most 4 jobs") {
    Tables.lineitem(spark, sf) // the table's schema is cached: no inference job below
    val (got, jobs) = jobsOf("q128-jobs-spec")(ops.Graph.triangles(spark, sf).collect())
    assert(got.length == 1)
    // the edge list's collect (one job per adaptive query stage); the
    // counts come back as a local frame, so collecting them runs no
    // job. The distributed finish ran 21 per pass.
    assert(jobs.size <= 4, s"q128 ran ${jobs.size} jobs (budget 4)")
  }

  test("verify sizing runs the exact candidate-doc count only when 2 x pairs exceeds the broadcast guard") {
    val guard = ops.Dedup.MaxBroadcastArrayDocs
    var calls = 0
    def exact(): Long = { calls += 1; 42L }
    // within the guard 2 x pairs bounds the distinct docs: every
    // broadcast guard already decides "broadcast", so no count job
    assert(ops.Dedup.verifySizing(0L, exact()) == 0L)
    assert(ops.Dedup.verifySizing(guard / 2, exact()) == guard)
    assert(calls == 0, "the bound must stand in for the count within the guard")
    // one pair past it, the decision needs the exact distinct count
    assert(ops.Dedup.verifySizing(guard / 2 + 1, exact()) == 42L)
    assert(calls == 1)
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

  test("runFully executes the projected columns that count() prunes") {
    // a deterministic UDF that counts its calls: count() prunes the
    // projected column, so a query timed by count() can skip its work
    val calls = spark.sparkContext.longAccumulator("runFully-spec")
    val touch = udf { (x: Long) => calls.add(1L); x }
    val df = spark.range(0, 100).select(touch(col("id")).as("x"))
    assert(df.count() == 100L)
    assert(calls.value == 0L, "count() must not have evaluated the projected UDF")
    assert(Harness.runFully(df) == 100L)
    assert(calls.value == 100L, "runFully must evaluate the projection once per row")
  }
}
