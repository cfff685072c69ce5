package graft

import scala.collection.mutable
import java.nio.file.{Files, Paths}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement core every measurement main runs through: the one
  * session builder, the one timing function, the one probe loop, the
  * calibrated sweep and the artifact writer.
  *
  * Modes built on it (Bench's bench/family/ab, SkewProbe's
  * stage/cdc/gram) differ only in named constants
  * ([[Harness.SweepMode]], the probe family table); the shared loops
  * never ask which mode is running. */
object Harness {

  /** The only session builder in the library (SourceGuardSpec
    * pins that): `local[SPARK_GRAFT_CPUS]` with one shuffle partition per
    * core, the library tuning ([[Tuning.tune]]), UTC, parquet NANOS read
    * as long (legacy events.parquet; inert on MICROS data), no UI, and a
    * network timeout that a long driver pause (GC, large task results)
    * cannot trip mid-run. `conf` overrides come last. */
  def session(defaultCpus: String, conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val base = Tuning.tune(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "600s")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local-mode core count of a [[session]]. */
  def cpus(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Execute a query's FULL physical plan and return its row count.
    *
    * `df.count()` is NOT that: Catalyst re-optimizes around the count —
    * every output column is pruned, and any cardinality-preserving tail
    * is eliminated outright (a left join whose build side is an
    * aggregate has provably-unique keys, so q133's entire substring-
    * dedup pipeline collapsed to `FileScan parquet []` + count(1):
    * measured 0.97 s "at sf100" while reading 2.4 MB of an 811 MB
    * corpus). `queryExecution.toRdd` compiles the dataframe's own
    * physical plan — every column, every operator — and counting THAT
    * RDD executes it without giving the optimizer a count to collapse.
    * ObserveSpec pins the difference. */
  def runFully(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** One timed run: wall seconds (query construction included — eager
    * checkpoints run while the frame is built), rows, the hot-key
    * guard's detection seconds, and the error when the run threw. A
    * thrown run is a failure, never a fast timing. */
  final case class Timing(sec: Double, rows: Long, detectionSec: Double,
                          error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
    /** This timing, or the run's error rethrown (fail-fast callers). */
    def get: Timing = { error.foreach(e => throw e); this }
  }

  /** The one timing function: GuardStats reset, full-plan execution,
    * then clearCache, so one run's cache entries never bill the next. */
  def time(spark: SparkSession, label: String)(df: => DataFrame): Timing = {
    GuardStats.reset()
    val t0 = System.nanoTime()
    val result = try Right(runFully(df)) catch { case e: Throwable =>
      System.err.println(s"[harness] $label FAILED: ${e.getMessage}"); Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    Timing(sec, result.getOrElse(-1L), GuardStats.detectionSeconds, result.left.toOption)
  }

  /** Poll `count` until it has not moved for 500 ms (10 s cap). Spark's
    * listener bus is async: a boundary taken when the action returns
    * drops the final task wave — the slowest tasks a max/med verdict
    * needs. False when the cap was hit with events still arriving. */
  def quiesce(count: => Long): Boolean = {
    val start = System.nanoTime()
    var last = count
    var since = start
    while (System.nanoTime() - since < 500L * 1000 * 1000 &&
           System.nanoTime() - start < 10L * 1000 * 1000 * 1000) {
      Thread.sleep(50)
      val now = count
      if (now != last) { last = now; since = System.nanoTime() }
    }
    System.nanoTime() - since >= 500L * 1000 * 1000
  }

  /** Runs per probe: the first pays codegen, class loading and page-cache
    * fill; the last is the probed run. */
  val ProbeRuns = 2

  /** The one probe loop: `runs` fail-fast timings of `df`, with the
    * recorder quiesced and cleared before the last run and quiesced
    * after it, so its stage rows hold exactly the probed run's tasks. */
  def probe(spark: SparkSession, rec: StageRecorder, label: String,
            runs: Int = ProbeRuns)(df: => DataFrame): Seq[Timing] =
    (1 to runs).map { i =>
      if (i == runs) { rec.quiesce(); rec.clear() }
      val t = time(spark, label)(df).get
      if (i == runs) rec.quiesce()
      t
    }

  /** Fixed window calibrator: cheap, corpus-structural, and it reads
    * only the documents table, present at every bench and family scale
    * point. A last/first swing past [[CalibratorBound]] labels the window
    * REJECTED in-artifact. ACCEPTED certifies INTRA-RUN stability only: a
    * window degraded uniformly the whole run still labels ACCEPTED, so
    * host health is judged from `first_s` + loadavg against a healthy
    * record (BASELINE.md). 1.6 splits this host's short-query noise band
    * from a train that is degrading the box. */
  val CalibratorQuery = "q21_dedup_exact"
  val CalibratorBound = 1.6

  /** Where the calibrated sweep's modes differ. */
  final case class SweepMode(
      /** Queries per segment; one calibrator run closes each segment, and
        * a segment reading past bound × first_s marks its queries
        * degraded. */
      segmentLen: Int,
      /** Widest absolute intra-query spreads that get one more run. */
      spreadReruns: Int,
      /** Re-run cap. */
      maxReruns: Int,
      /** The cap grows to degraded + spreadReruns, so degraded picks
        * never starve the spread quota. */
      capGrows: Boolean,
      /** REJECTED also when the calibrator sped up past the bound. */
      twoSidedBound: Boolean,
      /** A failing query aborts the run instead of being recorded. */
      failFast: Boolean)

  /** One query's sweep record: the successful runs' seconds, whether
    * every run succeeded, and the guard's detection seconds in the
    * fastest run (0 when detection did not run). */
  final case class Swept(name: String, secs: Seq[Double], ok: Boolean, detectionSec: Double)

  /** The calibrated sweep's outcome. `rerun` holds the successful targeted
    * re-runs; [[Swept.secs]] ++ `rerun` is the min vector. */
  final case class Sweep(
      mode: SweepMode, results: Seq[Swept], calibFirst: Option[Double],
      calibLast: Option[Double], segCalib: Seq[Double], degraded: Set[String],
      rerunNames: Seq[String], rerunCap: Int, rerun: Map[String, Double]) {
    def ratio: Option[Double] = for (f <- calibFirst; l <- calibLast) yield l / f
    def windowStatus: String = ratio match {
      case None => "CALIBRATOR_FAILED"
      case Some(r) if r > CalibratorBound || (mode.twoSidedBound && r < 1 / CalibratorBound) => "REJECTED"
      case _ => "ACCEPTED"
    }
    def minOf(r: Swept): Double = (r.secs ++ rerun.get(r.name)).min
  }

  /** Pure re-run selection (spec-pinned): every degraded-segment query
    * plus the `topSpread` widest absolute intra-query spreads, in train
    * order, deduplicated, capped at `cap`. Spread ties break by name so
    * the choice is deterministic. Defaults are the family mode's. */
  def selectReruns(
      order: Seq[String],
      spreads: Map[String, Double],
      degraded: Set[String],
      topSpread: Int = Bench.FamilySweep.spreadReruns,
      cap: Int = Bench.FamilySweep.maxReruns): Seq[String] = {
    val bySpread = spreads.toSeq.sortBy { case (n, s) => (-s, n) }
      .take(topSpread).map(_._1).toSet
    order.filter(n => degraded(n) || bySpread(n)).take(cap)
  }

  /** Each query runs twice (min-of-2), between a calibrator warmed to a
    * JIT fixpoint before the train and min-of-2 calibrator endpoints; a
    * calibrator run closes every segment, a suspect reading gets one
    * confirming retry before it flags, and the degraded-segment queries
    * plus the widest spreads get one targeted re-run. A failed
    * calibrator is recorded (-1 per segment, None at an endpoint →
    * CALIBRATOR_FAILED), never read as a fast healthy window. */
  def sweep(spark: SparkSession, sfDir: String, names: Seq[String], mode: SweepMode): Sweep = {
    def run(name: String): Timing = {
      val t = time(spark, name)(SparkEntry.queries(name)(spark, sfDir))
      if (mode.failFast) t.get else t
    }
    def calib(): Timing = time(spark, CalibratorQuery)(SparkEntry.queries(CalibratorQuery)(spark, sfDir))
    // warm scan + join + agg codegen once (tolerating a corpus without
    // the TPC-H tables), then the calibrator until two successful runs
    // agree within 15% (≤ 6 tries): a sub-second calibrator otherwise
    // keeps speeding up across the run from shared-path tiered
    // compilation and reads as a spurious window swing
    time(spark, "warmup")(etl.Transform.topkEnriched(spark, sfDir))
    var prev = Double.MaxValue
    var tries = 0
    var stable = false
    while (tries < 6 && !stable) {
      val t = calib()
      if (t.ok) { stable = t.sec > prev * 0.85 && t.sec < prev * 1.15; prev = t.sec }
      tries += 1
    }
    def endpoint(): Option[Double] = {
      val ts = Seq.fill(2)(calib())
      if (ts.forall(_.ok)) Some(ts.map(_.sec).min) else None
    }
    val calibFirst = endpoint()
    val segCalib = mutable.ArrayBuffer.empty[Double]
    val results = names.zipWithIndex.map { case (name, idx) =>
      val runs = Seq.fill(2)(run(name))
      val fastest = runs.filter(_.ok).sortBy(_.sec).headOption
      if ((idx + 1) % mode.segmentLen == 0 || idx == names.size - 1) {
        var c = calib()
        if (c.ok && calibFirst.exists(f => c.sec > CalibratorBound * f)) {
          val retry = calib()
          if (retry.ok && retry.sec < c.sec) c = retry
        }
        segCalib += (if (c.ok) c.sec else -1.0)
        System.err.println(f"SWEEP_SEGMENT ${segCalib.size} calibrator ${segCalib.last}%.3f s")
      }
      System.err.println(f"SWEEP_PROGRESS $name ${fastest.fold(-1.0)(_.sec)}%.3f " +
        f"(detection ${fastest.fold(0.0)(_.detectionSec)}%.3f s)")
      Swept(name, runs.filter(_.ok).map(_.sec), runs.forall(_.ok), fastest.fold(0.0)(_.detectionSec))
    }
    val degraded = calibFirst.fold(Set.empty[String]) { f =>
      names.zipWithIndex.collect { case (n, i)
        if segCalib.lift(i / mode.segmentLen).exists(c => c > 0 && c > CalibratorBound * f) => n
      }.toSet
    }
    val spreads = results.collect { case r if r.ok && r.secs.size >= 2 => r.name -> (r.secs.max - r.secs.min) }.toMap
    val cap = if (mode.capGrows) math.max(mode.maxReruns, degraded.size + mode.spreadReruns) else mode.maxReruns
    val rerunNames = selectReruns(names, spreads, degraded, mode.spreadReruns, cap)
    val rerun = rerunNames.flatMap { n => Some(run(n)).filter(_.ok).map(t => n -> t.sec) }.toMap
    val s = Sweep(mode, results, calibFirst, endpoint(), segCalib.toSeq, degraded, rerunNames, cap, rerun)
    if (s.windowStatus == "REJECTED") System.err.println(
      f"WARN: window REJECTED by its calibrator — $CalibratorQuery ${s.calibFirst.get}%.2f s " +
        f"before vs ${s.calibLast.get}%.2f s after (${s.ratio.get}%.2fx, bound ${CalibratorBound}x)")
    s
  }

  /** 1/5/15-min system load averages, recorded in every artifact so a
    * cross-session timing swing can be judged from the artifact itself. */
  def loadAvg(): String =
    try scala.util.Using.resource(scala.io.Source.fromFile("/proc/loadavg")) {
      src => src.mkString.trim.split(" ").take(3).mkString("[", ",", "]")
    } catch { case _: Throwable => "[]" }

  /** Write the artifact and print it as the final stdout line (bare JSON,
    * machine-parsable without the log around it). */
  def emit(outFile: String, json: String): Unit = {
    Files.writeString(Paths.get(outFile), json)
    println(json)
  }
}

/** Per-stage task metrics for the probes: every task-end's runtime and
  * spill/shuffle/input volumes, rendered as the top stages' JSON rows,
  * plus the job description each stage ran under (the hot-key guard
  * labels its detection jobs, see [[GuardStats.DetectionJobPrefix]]). */
private[graft] final class StageRecorder(sc: SparkContext) {
  final class Acc {
    var tasks = 0
    val runMs = mutable.ArrayBuffer.empty[Long]
    var spillMem = 0L
    var spillDisk = 0L
    var shufRead = 0L
    var shufWrite = 0L
    var input = 0L
  }

  private val stages = mutable.LinkedHashMap.empty[Int, Acc]
  private val stageDesc = mutable.HashMap.empty[Int, String]
  @volatile var quiesceTimeout = false

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val d =
        if (e.properties == null) null
        else e.properties.getProperty("spark.job.description")
      if (d != null) stages.synchronized {
        e.stageInfos.foreach(si => stageDesc(si.stageId) = d)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) stages.synchronized {
        val a = stages.getOrElseUpdate(e.stageId, new Acc)
        a.tasks += 1
        a.runMs += e.taskMetrics.executorRunTime
        a.spillMem += e.taskMetrics.memoryBytesSpilled
        a.spillDisk += e.taskMetrics.diskBytesSpilled
        a.shufRead += e.taskMetrics.shuffleReadMetrics.totalBytesRead
        a.shufWrite += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        a.input += e.taskMetrics.inputMetrics.bytesRead
      }
  })

  /** [[Harness.quiesce]] on the task-end count; a cap hit means the run
    * boundary leaked — flagged in the artifact, warned on stderr. */
  def quiesce(): Unit =
    if (!Harness.quiesce(stages.synchronized(stages.valuesIterator.map(_.tasks.toLong).sum))) {
      quiesceTimeout = true
      System.err.println(
        "WARN: StageRecorder quiesce hit the 10s cap with task-ends still " +
          "arriving — probe boundaries are contaminated; treat this " +
          "probe's stage stats as unreliable (quiesce_timeout=true)")
    }

  def clear(): Unit = stages.synchronized { stages.clear(); stageDesc.clear() }

  /** Fraction of ALL recorded task time spent in stages whose job
    * description starts with `prefix`. 0.0 when nothing was recorded. */
  def taskTimeShare(prefix: String): Double = {
    val (tot, hit) = stages.synchronized {
      val t = stages.valuesIterator.map(_.runMs.sum).sum
      val h = stages.iterator.collect {
        case (id, a) if stageDesc.get(id).exists(_.startsWith(prefix)) =>
          a.runMs.sum
      }.sum
      (t, h)
    }
    if (tot > 0) hit.toDouble / tot else 0.0
  }

  private def heaviestFirst: Seq[(Int, Acc)] =
    stages.synchronized(stages.toSeq).sortBy { case (_, a) => -a.runMs.sum }

  /** Median task seconds of the HEAVIEST stage (by total task time): the
    * host-speed constant a probe artifact carries so absolutes can be
    * normalized across windows (same query and scale only). 0.0 if
    * nothing was recorded. */
  def medianHeavyStageTaskSec: Double =
    heaviestFirst.headOption.map { case (_, a) =>
      val sorted = a.runMs.sorted
      if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2) / 1e3
    }.getOrElse(0.0)

  /** Top `n` stages by total task time, as JSON rows. */
  def jsonRows(n: Int = 12): Seq[String] = {
    def mb(b: Long): String = f"${b / (1024.0 * 1024.0)}%.1f"
    heaviestFirst.take(n).map { case (id, a) =>
      val sorted = a.runMs.sorted
      val med = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      val mx = if (sorted.isEmpty) 0L else sorted.last
      val ratio = if (med > 0) mx.toDouble / med else 0.0
      f"""{"stage":$id,"tasks":${a.tasks},"task_time_sum_s":${sorted.sum / 1e3}%.1f,"task_time_max_s":${mx / 1e3}%.2f,"task_time_med_s":${med / 1e3}%.2f,"max_over_med":$ratio%.2f,"spill_mem_mb":${mb(a.spillMem)},"spill_disk_mb":${mb(a.spillDisk)},"shuffle_read_mb":${mb(a.shufRead)},"shuffle_write_mb":${mb(a.shufWrite)},"input_mb":${mb(a.input)}}"""
    }
  }
}

/** Telemetry-only accumulator for the hot-key guard's DETECTION cost:
  * the sampled 2%-of-docs + mega-doc-screen pass in
  * `ops.Curation.detectHotKeys` runs inside every guarded query, and a
  * corpus-shape change (many mega-docs) could silently turn the screen
  * into a second corpus pass. [[Harness.time]] resets it before every
  * timed run, and the bench, family and probe artifacts publish the
  * detection wall-seconds. Records TIMING ONLY — never results:
  * detection keys are always recomputed from the inputs. */
private[graft] object GuardStats {
  private val nanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Job-description prefix detectHotKeys sets while its detection
    * action runs — StageRecorder attributes stage task time on it. */
  val DetectionJobPrefix = "hot-key detection"

  def addDetectionNanos(n: Long): Unit = { nanos.addAndGet(n); () }
  def detectionSeconds: Double = nanos.get / 1e9
  def reset(): Unit = nanos.set(0L)
}
