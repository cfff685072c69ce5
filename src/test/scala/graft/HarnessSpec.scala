package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

/** The measurement core's pure parts, its run recorder, and the
  * documented entry points. */
class HarnessSpec extends SparkSpec {

  test("family re-run selection: degraded segments + widest spreads, train order, capped (r21 min vector)") {
    val order = Seq("a", "b", "c", "d", "e", "f")
    val spreads = Map("a" -> 0.1, "b" -> 5.0, "c" -> 0.2,
      "d" -> 3.0, "e" -> 0.0, "f" -> 4.0)
    // top-3 spreads are b/f/d; e's segment is degraded — all four
    // selected, in TRAIN order, no duplicates
    assert(Harness.selectReruns(order, spreads, degraded = Set("e")) ==
      Seq("b", "d", "e", "f"))
    // a degraded query that is ALSO a top spread appears once
    assert(Harness.selectReruns(order, spreads, degraded = Set("b")) ==
      Seq("b", "d", "f"))
    // no degradation, uniform spreads: exactly topSpread picks, ties
    // broken by name so the selection is deterministic
    val flat = order.map(_ -> 1.0).toMap
    assert(Harness.selectReruns(order, flat, degraded = Set.empty) ==
      Seq("a", "b", "c"))
    // a fully-degraded train stops at the cap (re-run the window, not
    // every query)
    assert(Harness.selectReruns(order, spreads, degraded = order.toSet,
      cap = 4) == Seq("a", "b", "c", "d"))
  }

  test("every graft main named in README's Run block and tools/jrun.sh's header exists") {
    def names(lines: Seq[String]): Seq[String] =
      lines.flatMap(l => """graft\.([A-Z]\w*)""".r.findAllMatchIn(l).map(_.group(1))).distinct
    val readme = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
    val run = readme.dropWhile(_ != "## Run").drop(1)
      .dropWhile(l => !l.startsWith("```")).drop(1).takeWhile(l => !l.startsWith("```"))
    val header = Files.readAllLines(Paths.get("tools/jrun.sh")).asScala.toSeq
      .drop(1).takeWhile(_.startsWith("#"))
    for ((where, mains) <- Seq("README Run block" -> names(run), "tools/jrun.sh header" -> names(header))) {
      assert(mains.nonEmpty, s"no graft.<Name> mains found in the $where")
      mains.foreach { n =>
        val module = try Class.forName(s"graft.$n$$") catch {
          case _: ClassNotFoundException => fail(s"$where names graft.$n, which does not exist") }
        assert(module.getMethods.exists(m => m.getName == "main" &&
          m.getParameterTypes.sameElements(Seq(classOf[Array[String]]))),
          s"$where names graft.$n, which has no main method")
      }
    }
  }

  test("a recorder window holds every event its body posted and nothing after it") {
    val sc = spark.sparkContext
    // a listener ahead of the recorder on the shared queue that lags it,
    // as a busy bus does: the body returns before its events reach the
    // recorder, so only the fence can make the window whole
    val lag = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(50)
    }
    sc.addSparkListener(lag)
    val (_, w) = try SparkSpec.recorder.window {
      sc.setJobGroup("fence-law", "fence-law")
      // the last partition's task end is the straggler a boundary taken
      // when the action returns would drop
      try sc.parallelize(0 until 8, 8).foreach(i => if (i == 7) Thread.sleep(300))
      finally sc.clearJobGroup()
      spark.range(100).localCheckpoint(eager = true)
    } finally sc.removeSparkListener(lag)
    val ranged = w.jobs.filter(_.group == "fence-law")
    assert(ranged.size == 1, s"the 8-partition job is one job, saw ${ranged.size}")
    val stages = ranged.head.stageIds.toSet
    assert(w.tasks.count(t => stages(t.stageId)) == 8)
    assert(w.executions.map(_._1).contains("localCheckpoint"),
      s"the eager checkpoint's execution is missing: ${w.executions.map(_._1)}")
    assert(!w.jobs.exists(_.group == Harness.Recorder.SentinelGroup))
    val (_, next) = SparkSpec.recorder.window(())
    assert(next.jobs.isEmpty && next.tasks.isEmpty && next.executions.isEmpty,
      s"a window straight after holds ${next.jobs.size} jobs, ${next.tasks.size} tasks, ${next.executions.size} executions")
  }
}
