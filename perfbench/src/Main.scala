package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload, in the current directory:
  *
  *  1. set-up, once, timed from JVM start: boot a `local[nproc]` session
  *     and prepare the seeded inputs ([[Inputs]]);
  *  2. cold pass: every op once in the fresh JVM, in the workload's
  *     listed order;
  *  3. warm passes, in the seeded op order, the workload's fixed count
  *     ([[Workload.warmPasses]]): all untraced (`--trace 0`); or
  *     [[TracedPasses]] traced ones between two untraced (`--trace 1`).
  *     After the last pass, each op's result from it is written out
  *     (untimed) for the oracle check `run.py` makes after this JVM exits.
  *
  * An op is one `SparkEntry.queries` call (construct) followed by
  * `df.queryExecution.toRdd.count()` (execute), which runs the full
  * physical plan; `count()` would let Catalyst prune a lazy tail away.
  * Writes the run's record to `--out` and the traced passes' spans next to
  * it. */
object Main {
  type Fn = (SparkSession, String) => DataFrame
  /** Three, so that the per-layer medians pass over a pass in which
    * adaptive execution planned a join another way by stage timing (q128
    * runs 20 or 21 jobs). */
  val TracedPasses = 3

  final case class OpRun(op: Op, constructS: Double, executeS: Double, rows: Long,
                         error: Option[String], phases: Seq[Bucket]) {
    def ok: Boolean = error.isEmpty
    def seconds: Double = constructS + executeS
  }

  final case class PassRun(tag: String, ops: Seq[OpRun], cpuS: Double, gcS: Double) {
    /** Seconds the pass's successful ops took: a failed op's time to throw
      * is not counted, so a throwing op cannot make a pass look fast. */
    def seconds: Double = ops.filter(_.ok).map(_.seconds).sum
  }

  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = graft.Tuning.tune(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs one op; a throw, or a row count other than the verified one,
    * makes it a failed op. Phases are closed (and the listener bus
    * quiesced) outside the timed windows. */
  def runOp(spark: SparkSession, dir: String, op: Op, fn: Fn, expectedRows: Option[Long],
            tracer: Option[Tracer], tag: String): (OpRun, Option[DataFrame]) = {
    val phases = mutable.ArrayBuffer.empty[Bucket]
    def timed[T](phase: String)(body: => T): (Either[Throwable, T], Double) = {
      tracer.foreach(_.open(s"$tag/$phase"))
      val t0 = System.nanoTime()
      val r = try Right(body) catch { case e: Throwable => Left(e) }
      val s = (System.nanoTime() - t0) / 1e9
      tracer.foreach(t => phases += t.close())
      (r, s)
    }
    def failed(e: Throwable) = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    timed("construct")(fn(spark, dir)) match {
      case (Left(e), c) => (OpRun(op, c, 0.0, -1L, failed(e), phases.toSeq), None)
      case (Right(df), c) =>
        val (r, x) = timed("execute") {
          val n = df.queryExecution.toRdd.count()
          tracer.foreach(_.countPlan(df))
          n
        }
        r match {
          case Left(e) => (OpRun(op, c, x, -1L, failed(e), phases.toSeq), None)
          case Right(n) =>
            val err = expectedRows.filter(_ != n).map(m => s"returned $n rows, verified $m")
            (OpRun(op, c, x, n, err, phases.toSeq), Some(df))
        }
    }
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** One pass over `ops`; `after` sees each successful op's result,
    * outside the timed window, and may fail the op. */
  def runPass(spark: SparkSession, dir: String, ops: Seq[(Op, Fn)], expected: Map[String, Long],
              tracer: Option[Tracer], tag: String,
              after: (Op, DataFrame) => Option[String] = (_, _) => None): PassRun = {
    val gc0 = gcSeconds
    val cpu0 = cpuSeconds
    val runs = ops.map { case (op, fn) =>
      val (run, df) = runOp(spark, dir, op, fn, expected.get(op.query), tracer, s"$tag/${op.query}")
      df.flatMap(after(op, _)).fold(run)(e => run.copy(error = Some(e)))
    }
    PassRun(tag, runs, cpuSeconds - cpu0, gcSeconds - gc0)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private val MiB = 1024.0 * 1024.0

  val LayerMetrics: Seq[String] = Seq("construct_s", "execute_s", "driver_idle_s", "jobs",
    "tasks", "task_s", "shuffle_write_mb", "spill_mb", "input_mb", "scans", "exchanges")
  val RuntimeMetrics: Seq[String] = Seq("spark.stages", "spark.gc_s", "spark.failed_tasks",
    "spark.task_skew", "spark.read_amplification")

  /** Per-layer and runtime-wide figures of one traced pass, plus the
    * pass's shape (`pass.*`), which is printed but is not a metric. */
  def passMetrics(p: PassRun): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (l <- Workloads.Layers; k <- LayerMetrics) m(s"$l.$k") = 0.0
    def add(k: String, v: Double): Unit = m(k) = m(k) + v
    for (r <- p.ops; l = r.op.layer) {
      add(s"$l.construct_s", r.constructS)
      add(s"$l.execute_s", r.executeS)
      for (b <- r.phases) {
        val busy = Spans.covered(b.start, b.end, b.tasks.map(t => (t.launch, t.finish)).toSeq)
        add(s"$l.driver_idle_s", (b.end - b.start - busy) / 1e3)
        add(s"$l.jobs", b.jobs.size)
        add(s"$l.tasks", b.tasks.size)
        add(s"$l.task_s", b.tasks.map(_.runMs).sum / 1e3)
        add(s"$l.shuffle_write_mb", b.tasks.map(_.shuffleWrite).sum / MiB)
        add(s"$l.spill_mb", b.tasks.map(_.spill).sum / MiB)
        add(s"$l.input_mb", b.tasks.map(_.input).sum / MiB)
        add(s"$l.scans", b.scans)
        add(s"$l.exchanges", b.exchanges)
      }
    }
    val buckets = p.ops.flatMap(_.phases)
    val tasks = buckets.flatMap(_.tasks)
    m("spark.stages") = buckets.map(_.stages.size).sum
    m("spark.gc_s") = p.gcS
    m("spark.failed_tasks") = tasks.count(!_.ok)
    m("spark.task_skew") = tasks.groupBy(_.stageId).values.toSeq
      .sortBy(ts => -ts.map(_.runMs).sum).headOption.map { ts =>
        val run = ts.map(_.runMs.toDouble)
        run.max / math.max(1.0, median(run))
      }.getOrElse(0.0)
    // file bytes scanned over the bytes of the distinct files scanned, per op
    val scanned = p.ops.map(_.phases.map(_.scanBytes).sum).sum
    val distinct = p.ops.map(_.phases.flatMap(_.scanFiles).toMap.values.sum).sum
    m("spark.read_amplification") = scanned.toDouble / math.max(1L, distinct)
    m("pass.shuffle_write_mb") = tasks.map(_.shuffleWrite).sum / MiB
    m("pass.task_s_per_wall_s") = tasks.map(_.runMs).sum / 1e3 / math.max(1e-9, p.seconds)
    m.toMap
  }

  /** Spans of one traced pass: pass → op → construct/execute → job → stage. */
  def spans(p: PassRun): Seq[ListMap[String, Any]] = {
    val traceId = p.tag
    val out = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    def span(id: String, parent: String, kind: String, name: String, s: Long, e: Long,
             children: Seq[(Long, Long)]): Unit =
      out += ListMap("trace" -> traceId, "id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start_ms" -> s, "end_ms" -> e,
        "self_ms" -> Spans.selfTime(s, e, children))
    val opWindows = p.ops.map(r => (r.phases.head.start, r.phases.last.end))
    span(traceId, null, "pass", traceId, opWindows.head._1, opWindows.last._2, opWindows)
    for ((r, (os, oe)) <- p.ops.zip(opWindows)) {
      val opId = s"$traceId/${r.op.query}"
      span(opId, traceId, "op", r.op.query, os, oe, r.phases.map(b => (b.start, b.end)))
      for ((b, phase) <- r.phases.zip(Seq("construct", "execute"))) {
        val phaseId = s"$opId/$phase"
        span(phaseId, opId, "phase", phase, b.start, b.end, b.jobs.map(j => (j.start, j.end)).toSeq)
        for (j <- b.jobs) {
          val jobId = s"$phaseId/job${j.id}"
          val st = b.stages.filter(s => j.stageIds.contains(s.id)).toSeq
          span(jobId, phaseId, "job", s"job ${j.id}", j.start, j.end, st.map(s => (s.submit, s.complete)))
          for (s <- st) span(s"$jobId/stage${s.id}", jobId, "stage", s"stage ${s.id}",
            s.submit, s.complete, Nil)
        }
      }
    }
    out.toSeq
  }

  /** Seconds the hypervisor ran something else while this host's vCPUs
    * wanted to run (the `steal` column of /proc/stat, summed over CPUs). */
  private def stealSeconds: Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat")) { src =>
      src.getLines().next().split("\\s+").lift(8).fold(0.0)(_.toDouble / 100)
    }

  private def loadAvg: String =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/loadavg"))(_.mkString.trim)

  private def peakRssMb: Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get
    }

  /** Process user+sys CPU seconds, as the OS accounts them. */
  private def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = a("out")
    val cwd = new File(".").getCanonicalPath
    val inputDir = s"$cwd/inputs"
    val cpus = Runtime.getRuntime.availableProcessors
    val loadBefore = loadAvg
    val stealBefore = stealSeconds

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainS = (System.currentTimeMillis() - jvmStart) / 1e3
    val spark = session(cpus, s"$cwd/spark-local")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val stats = Inputs.prepare(s"${a("data")}/${wl.source}", inputDir, seed, wl.docReplicas)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    // where the set-up time went: JVM start to main, to session, to inputs
    val setupSplit = ListMap("main_s" -> mainS, "session_s" -> (sessionS - mainS),
      "inputs_s" -> (setupS - sessionS))

    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val listed = wl.ops.map(op => op -> queries.getOrElse(
      op.query, throw new IllegalArgumentException(s"${op.query} is not in SparkEntry.queries")))
    // warm passes run the ops in the seeded order; the cold pass in the
    // listed one, as a scheduled job would, so that the op paying the
    // JVM's first-query warm-up (4-10 s) is the same for every seed
    val ops = new scala.util.Random(seed).shuffle(listed)
    val verifyDir = s"$cwd/verify"

    val cold = runPass(spark, inputDir, listed, Map.empty, None, "cold")
    val expected = cold.ops.filter(_.ok).map(r => r.op.query -> r.rows).toMap

    // with --trace 1, TracedPasses traced passes run between two untraced
    // ones; the first only carries the JIT past the post-cold warm-up, and
    // trace.overhead_s compares the traced passes with the last
    val traceId = (i: Int) => s"${wl.name}-seed$seed-pass$i"
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val passCount = if (trace) TracedPasses + 2 else wl.warmPasses
    val results = mutable.ArrayBuffer.empty[(Op, DataFrame)]
    while (passes.size < passCount) {
      val i = passes.size
      passes += (if (trace && i > 0 && i <= TracedPasses) {
        val tracer = new Tracer(spark)
        try runPass(spark, inputDir, ops, expected, Some(tracer), traceId(i))
        finally tracer.stop()
      } else runPass(spark, inputDir, ops, expected, None, s"warm$i",
        (op, df) => { if (i == passCount - 1) results += op -> df; None }))
    }
    // the last pass's results, written once it has ended; a failed write
    // fails the op in that pass
    val writeT0 = System.nanoTime()
    val writeErrors = results.flatMap { case (op, df) =>
      try { df.write.mode("overwrite").parquet(s"$verifyDir/${op.query}"); None }
      catch { case e: Throwable => Some(op -> s"writing the result failed: ${e.getMessage}".take(500)) }
    }.toMap
    val verifyWriteS = (System.nanoTime() - writeT0) / 1e9
    passes(passCount - 1) = passes.last.copy(ops = passes.last.ops.map(r =>
      writeErrors.get(r.op).fold(r)(e => r.copy(error = Some(e)))))
    val (traced, warm) = passes.toSeq.partition(_.ops.exists(_.phases.nonEmpty))
    val passS = median(warm.map(_.seconds))
    val e2e = ListMap[String, Any](
      "pass_s" -> passS,
      "cpu_s" -> median(warm.map(_.cpuS)),
      "cold_pass_s" -> cold.seconds,
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb)
    val perLayer: ListMap[String, Any] = if (!trace) ListMap.empty else {
      val per = traced.map(passMetrics)
      val keys = (for (l <- Workloads.Layers; k <- LayerMetrics) yield s"$l.$k") ++ RuntimeMetrics
      ListMap.from(keys.map(k => k -> median(per.map(_(k))))) +
        ("trace.overhead_s" -> (median(traced.map(_.seconds)) - warm.last.seconds))
    }
    val passShape = ListMap.from(Seq("pass.shuffle_write_mb", "pass.task_s_per_wall_s")
      .map(k => k -> traced.map(passMetrics(_)(k))))
    // job-group cross-check of the time-window attribution
    val phaseJobs = traced.flatMap(_.ops.flatMap(_.phases)).flatMap(b => b.jobs.map(b -> _))
    val traceCheck = ListMap(
      "jobs" -> phaseJobs.size,
      "jobs_with_other_group" -> phaseJobs.count { case (b, j) => j.group != b.tag },
      "jobs_started_outside_window" -> phaseJobs.count { case (b, j) =>
        j.start < b.start || j.start > b.end })

    val all = cold +: (warm ++ traced)
    val record = ListMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "host" -> ListMap("nproc" -> cpus, "heap_mb" -> Runtime.getRuntime.maxMemory / MiB,
        "java" -> System.getProperty("java.version"),
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadAvg,
        "steal_s" -> (stealSeconds - stealBefore)),
      "inputs" -> stats.map(t => ListMap("table" -> t.name, "rows" -> t.rows, "bytes" -> t.bytes)),
      "setup_split" -> setupSplit,
      "verify_write_s" -> verifyWriteS,
      "warm_pass_s" -> warm.map(_.seconds),
      "traced_pass_s" -> traced.map(_.seconds),
      "ops" -> ops.map { case (op, _) =>
        val runs = all.flatMap(_.ops.filter(_.op == op))
        ListMap("query" -> op.query, "layer" -> op.layer,
          "verified_rows" -> expected.get(op.query),
          "oracle_sql" -> oracle.get(op.query),
          "cold_s" -> cold.ops.find(_.op == op).map(_.seconds),
          "warm_median_s" -> median(warm.flatMap(_.ops.filter(o => o.op == op && o.ok))
            .map(_.seconds)),
          "attempted" -> runs.size,
          "failed" -> runs.count(!_.ok),
          "errors" -> runs.flatMap(_.error).distinct)
      },
      "metrics" -> e2e,
      "per_layer" -> perLayer,
      "traced_pass_shape" -> passShape,
      "trace_check" -> traceCheck)
    Files.writeString(Paths.get(out), Json(record))
    if (trace) Files.writeString(Paths.get(out.stripSuffix(".json") + "-spans.json"),
      Json(traced.flatMap(spans)))
    spark.stop()
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
  }
}
