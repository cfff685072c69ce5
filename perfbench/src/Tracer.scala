package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Interval arithmetic for span self time. */
object Spans {
  /** Length of the union of `children`, each clipped to [start, end). */
  def covered(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val cs = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    for ((s, e) <- cs) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part of it its children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(start, end, children)
}

final case class JobRec(id: Int, group: String, start: Long, var end: Long, stageIds: Seq[Int])
final case class StageRec(id: Int, submit: Long, complete: Long)
final case class TaskRec(stageId: Int, launch: Long, finish: Long, runMs: Long,
                         shuffleWrite: Long, spill: Long, input: Long, ok: Boolean)

/** What Spark did inside one phase (construct or execute) of one op. */
final class Bucket(val tag: String, val start: Long) {
  var end = 0L
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  var scans = 0
  var exchanges = 0
  var scanBytes = 0L
  val scanFiles = mutable.HashMap.empty[String, Long]
}

/** Records jobs, stages, tasks and executed plans through Spark's public
  * listener interfaces and files them under the phase that was open
  * when the listener received them.
  *
  * The listener bus is asynchronous, so a phase is closed only after a
  * sentinel job, submitted once the phase's own work has returned, is
  * seen to end: the shared listener queue is FIFO, so every event the
  * phase posted has been delivered by then (task-end events included,
  * which a flag flipped when the action returns would drop). The
  * QueryExecutionListener rides the same shared queue, so plans run by
  * eager checkpoints inside the phase are counted too. Sentinel jobs are
  * recognised by their job group and never counted. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val SentinelGroup = "perfbench.sentinel"
  private val lock = new Object
  private var current: Bucket = null
  private val sentinelJobs = mutable.HashSet.empty[Int]
  private val sentinelStages = mutable.HashSet.empty[Int]
  private var sentinelsSeen = 0L
  private var sentinelsSent = 0L
  private val openJobs = mutable.HashMap.empty[Int, JobRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == SentinelGroup) { sentinelJobs += e.jobId; sentinelStages ++= e.stageIds }
      else if (current != null) {
        val j = JobRec(e.jobId, group, e.time, 0L, e.stageIds)
        current.jobs += j
        openJobs(e.jobId) = j
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (sentinelJobs.remove(e.jobId)) { sentinelsSeen += 1; lock.notifyAll() }
      else openJobs.remove(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      if (current != null && !sentinelStages(si.stageId))
        current.stages += StageRec(si.stageId, si.submissionTime.getOrElse(0L),
          si.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (current != null && !sentinelStages(e.stageId)) {
        val m = e.taskMetrics
        val i = e.taskInfo
        current.tasks += (if (m == null) TaskRec(e.stageId, i.launchTime, i.finishTime,
          0L, 0L, 0L, 0L, ok = false)
        else TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.inputMetrics.bytesRead,
          ok = e.reason == Success))
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = Tracer.scansAndExchanges(qe.executedPlan)
      lock.synchronized { if (current != null) add(current, c) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /** Opens a phase; jobs the caller submits from here on are tagged `tag`. */
  def open(tag: String): Unit = {
    sc.setJobGroup(tag, tag)
    lock.synchronized { current = new Bucket(tag, System.currentTimeMillis()) }
  }

  /** Quiesces the listener bus and returns everything the phase did. */
  def close(): Bucket = {
    val end = System.currentTimeMillis()
    sc.clearJobGroup()
    sc.setJobGroup(SentinelGroup, SentinelGroup)
    try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    lock.synchronized {
      sentinelsSent += 1
      val deadline = System.currentTimeMillis() + 30000
      while (sentinelsSeen < sentinelsSent && System.currentTimeMillis() < deadline)
        lock.wait(50)
      if (sentinelsSeen < sentinelsSent)
        throw new IllegalStateException("listener bus did not drain within 30 s")
      val b = current
      current = null
      b.end = end
      b
    }
  }

  /** Adds a plan the caller executed outside `Dataset` actions (which the
    * QueryExecutionListener does not see) to the open phase. */
  def countPlan(df: DataFrame): Unit = {
    val c = Tracer.scansAndExchanges(df.queryExecution.executedPlan)
    lock.synchronized(add(current, c))
  }

  private def add(b: Bucket, c: Tracer.PlanCounts): Unit = {
    b.scans += c.scans
    b.exchanges += c.exchanges
    b.scanBytes += c.scanBytes
    b.scanFiles ++= c.files
  }

  def stop(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }
}

object Tracer {
  /** `scanBytes` sums, over the file-source scans, the bytes of the files
    * each scan covers; `files` holds those files with their sizes. */
  final case class PlanCounts(scans: Int, exchanges: Int, scanBytes: Long,
                              files: Map[String, Long])

  /** Data-source scans and executed exchanges in a finished plan. AQE
    * shells are unwrapped to the final plan; a reused exchange runs no
    * work of its own and is not counted. */
  def scansAndExchanges(plan: SparkPlan): PlanCounts = {
    var scans = 0
    var exchanges = 0
    var scanBytes = 0L
    val files = mutable.HashMap.empty[String, Long]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case _ =>
        p match {
          case f: FileSourceScanExec =>
            scans += 1
            for (path <- f.relation.location.inputFiles) {
              val size = files.getOrElseUpdate(path,
                java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(path))))
              scanBytes += size
            }
          case _: DataSourceScanExec | _: BatchScanExec => scans += 1
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    PlanCounts(scans, exchanges, scanBytes, files.toMap)
  }
}
