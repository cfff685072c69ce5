package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-stage task-metrics probes on the [[Harness.probe]] loop (the
  * probed run is the last; stage rows hold only its tasks):
  *
  *  - `SkewProbe stage <sfDir> <query> [outFile] [runs=2]` — the top stages of
  *    one query by total task time: `max_over_med` (max / median task
  *    runtime; ~1 means balanced partitions, a hot reducer shows 5–30×),
  *    spill, shuffle and input bytes, and `calib_med_map_task_s`, the
  *    heaviest stage's median task seconds (the host-speed constant).
  *  - `SkewProbe cdc <srcSfDir> <workDir> [outFile]` and
  *    `SkewProbe gram <srcSfDir> <workDir> [outFile] [query]` — PLANTED
  *    skew: copy the source documents to `workDir` with a corpus-hot key
  *    planted into every [[PlantEvery]]-th doc, then probe the guard-off
  *    arm and the shipping (guarded) entry arm-to-arm in one window, so
  *    the host-speed constant cancels. A hot key shows as max/med >> 1
  *    on the stage reading the keyed exchange in the off arm; the guard
  *    works when the guarded arm stays ≲ 2 there. */
object SkewProbe {
  private type Builder = (SparkSession, String) => DataFrame

  private val PlantEvery = 10
  private val CdcDivisor = 8
  private val CdcRepeats = 12
  private val GramTokens = 160

  /** A planted family: the text planted into every [[PlantEvery]]-th doc,
    * the guard-off arm's name, and the guard-off builder of each query
    * it probes. A query without one (q152: no pinned exchange, so no
    * guard) runs its shipping entry alone, labeled "shipping". */
  private final case class Family(plant: String, offArm: String, off: Map[String, Builder])

  /** CDC (q154): one CDC-stable unit repeated [[CdcRepeats]] times chunks
    * to that many identical fingerprints, so one fp owns ~20% of all
    * chunk rows; guard off = the pure window shape, where the hot fp's
    * whole row mass lands in ONE reduce partition. */
  private lazy val Cdc = Family(Seq.fill(CdcRepeats)(CdcUnit).flatten.mkString(" "), "window",
    Map("q154_cdc_chunks" -> ((s, d) => ops.Curation.cdcChunksOf(
      Tables.documents(s, d), CdcDivisor, cdcWidth(s, d), hotMinOcc = -1L))))

  /** Gram join-backs: a single-token text makes every L-gram the SAME
    * gram (~3% of the gram stream), which a width-pinned exchange — where
    * AQE skew splitting does not apply — sends to one probe task. */
  private val Gram = Family(Seq.fill(GramTokens)("zz0").mkString(" "), "off", Map(
    "q133_substring_dedup" -> ((s, d) => ops.Curation.substringDedup(s, d, hotMinOcc = -1L)),
    "q138_substring_apply" -> ((s, d) => ops.Curation.substringDedupApply(s, d, hotMinOcc = -1L)),
    "q146_boilerplate" -> ((s, d) => ops.Curation.boilerplateDetect(s, d, hotMinOcc = -1L)),
    "q147_boilerplate_apply" -> ((s, d) => ops.Curation.boilerplateApply(s, d, hotMinOcc = -1L))))

  /** An 8-token unit whose interior pairs never anchor and whose wrap
    * pair (last, first) does — searched with the operator's own boundary
    * rule so "unit × repeats" chunks to `repeats` identical fingerprints. */
  private lazy val CdcUnit: Seq[String] = {
    val d = CdcDivisor
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def anchors(a: String, b: String): Boolean =
      java.lang.Long.parseLong(md5hex(s"$a $b").take(15), 16) % d == 0
    val pool = (0 until 4096).map(i => s"hh$i")
    // greedy from each pool rotation: append tokens that never anchor
    // after the current tail, until an 8-token unit whose WRAP pair
    // anchors shows up (expected ~d rotations at P[anchor] = 1/d)
    pool.indices.iterator.map { off =>
      val p = pool.drop(off) ++ pool.take(off)
      val buf = scala.collection.mutable.ArrayBuffer(p.head)
      val it = p.iterator.drop(1)
      while (buf.size < 8 && it.hasNext) {
        val t = it.next()
        if (!anchors(buf.last, t)) buf += t
      }
      buf.toSeq
    }.find { u =>
      u.size == 8 && anchors(u.last, u.head) &&
        u.sliding(2).forall(pr => !anchors(pr(0), pr(1)))
    }.getOrElse(sys.error(s"no CDC-stable unit found for d=$d"))
  }

  /** The shipping q154 entry's corpus-proportional width (4 fp-exchange
    * bytes per input byte), read from `dir`. */
  private def cdcWidth(spark: SparkSession, dir: String): Int =
    ops.Curation.streamWidth(spark, dir, 4L)

  def main(args: Array[String]): Unit = args.toSeq match {
    case "stage" +: sfDir +: query +: rest =>
      stage(sfDir, query, rest.headOption.getOrElse("STAGE_PROBE.json"), rest.lift(1).fold(Harness.ProbeRuns)(_.toInt))
    case "cdc" +: src +: work +: rest => cdc(src, work, rest.headOption.getOrElse("CDC_SKEW_PROBE.json"))
    case "gram" +: src +: work +: rest =>
      gram(src, work, rest.headOption.getOrElse("GRAM_SKEW_PROBE.json"), rest.lift(1).getOrElse("q133_substring_dedup"))
    case _ => sys.error("usage: SkewProbe stage <sfDir> <query> [outFile] [runs] | " +
      "SkewProbe cdc <srcSfDir> <workDir> [outFile] | SkewProbe gram <srcSfDir> <workDir> [outFile] [query]")
  }

  private def tail(rec: StageRecorder, loadBefore: String): String =
    f""""quiesce_timeout":${rec.quiesceTimeout},"calib_med_map_task_s":${rec.medianHeavyStageTaskSec}%.2f,"loadavg_before":$loadBefore,"loadavg_after":${Harness.loadAvg()}"""

  private def stage(sfDir: String, query: String, outFile: String, runs: Int): Unit = {
    require(SparkEntry.queries.contains(query), s"unknown query: $query")
    val spark = Harness.session("32")
    val rec = new StageRecorder(spark.sparkContext)
    val loadBefore = Harness.loadAvg()
    val timed = Harness.probe(spark, rec, query, runs)(SparkEntry.queries(query)(spark, sfDir))
    Harness.emit(outFile,
      f"""{"metric":"stage_probe","query":"$query","sf":"$sfDir","cpus":${Harness.cpus(spark)},"runs":$runs,"probed_run_sec":${timed.last.sec}%.2f,"all_run_secs":[${timed.map(r => f"${r.sec}%.2f").mkString(",")}],${tail(rec, loadBefore)},"stages":[${rec.jsonRows().mkString(",")}]}""")
    spark.stop()
  }

  private final case class Arm(name: String, probedSec: Double, detectionSec: Double,
                               detectionShare: Double, stages: Seq[String])

  /** Copy `src`'s documents to `work` with `fam`'s text planted. */
  private def plant(spark: SparkSession, fam: Family, src: String, work: String): Unit = {
    // mode=overwrite DELETES the target first: never point it at the corpus being read
    require(java.nio.file.Paths.get(work).toAbsolutePath.normalize !=
      java.nio.file.Paths.get(src).toAbsolutePath.normalize,
      s"workDir must differ from srcSfDir ($src): the probe overwrites workDir/documents.parquet")
    Tables.documents(spark, src)
      .withColumn("text", when(col("doc_id") % PlantEvery === 0, lit(fam.plant)).otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
  }

  /** The AUTO hot-key guard needs more than one core
    * ([[graft.ops.Curation.guardEngages]]): on one core the shipping plan
    * IS the guard-off plan, and its arm would be mislabeled "guarded". */
  private def requireGuardCores(spark: SparkSession, fam: Family, query: String): Unit =
    require(!fam.off.contains(query) || Harness.cpus(spark) > 1,
      s"$query's auto hot-key guard never engages on one core — run the probe with SPARK_GRAFT_CPUS > 1")

  /** Probe `query`'s guard-off arm (when `fam` has one) and its shipping
    * entry on the planted `work` corpus. The detection share is the
    * guard's labeled detection stages' part of all probed task time. */
  private def probeArms(spark: SparkSession, fam: Family, work: String,
                        query: String): (StageRecorder, String, Seq[Arm]) = {
    val rec = new StageRecorder(spark.sparkContext)
    val loadBefore = Harness.loadAvg()
    def arm(name: String, df: => DataFrame): Arm = {
      val probed = Harness.probe(spark, rec, name)(df).last
      val share = rec.taskTimeShare(GuardStats.DetectionJobPrefix)
      System.err.println(f"SKEW_PROBE arm=$name probed=${probed.sec}%.1f detection=${probed.detectionSec}%.1fs (share $share%.3f)")
      Arm(name, probed.sec, probed.detectionSec, share, rec.jsonRows())
    }
    val off = fam.off.get(query)
    val arms = off.map(b => arm(fam.offArm, b(spark, work))).toSeq :+
      arm(if (off.isDefined) "guarded" else "shipping", SparkEntry.queries(query)(spark, work))
    (rec, loadBefore, arms)
  }

  private def cdc(src: String, work: String, outFile: String): Unit = {
    val spark = Harness.session("32")
    val cpus = Harness.cpus(spark)
    requireGuardCores(spark, Cdc, "q154_cdc_chunks")
    plant(spark, Cdc, src, work)
    val width = cdcWidth(spark, work)
    require(width > cpus, s"auto guard would not engage (width $width <= session $cpus) — " +
      "run the probe at a corpus scale where the straggler regime exists (sf100)")
    val (rec, loadBefore, arms) = probeArms(spark, Cdc, work, "q154_cdc_chunks")
    val armsJson = arms.map(a => f""""${a.name}":{"probed_run_sec":${a.probedSec}%.2f,"stages":[${a.stages.mkString(",")}]}""")
    Harness.emit(outFile,
      f"""{"metric":"cdc_skew_probe","src":"$src","work":"$work","cpus":$cpus,"plant_every":$PlantEvery,"repeats":$CdcRepeats,"width":$width,${tail(rec, loadBefore)},"arms":{${armsJson.mkString(",")}}}""")
    spark.stop()
  }

  private def gram(src: String, work: String, outFile: String, query: String): Unit = {
    require(SparkEntry.queries.contains(query), s"unknown query: $query")
    val spark = Harness.session("32")
    requireGuardCores(spark, Gram, query)
    plant(spark, Gram, src, work)
    val (rec, loadBefore, arms) = probeArms(spark, Gram, work, query)
    val armsJson = arms.map(a => f""""${a.name}":{"probed_run_sec":${a.probedSec}%.2f,"guard_present":${a.name == "guarded"},"detection_wall_s":${a.detectionSec}%.2f,"detection_share":${a.detectionShare}%.4f,"stages":[${a.stages.mkString(",")}]}""")
    Harness.emit(outFile,
      f"""{"metric":"gram_skew_probe","query":"$query","src":"$src","work":"$work","cpus":${Harness.cpus(spark)},"plant_every":$PlantEvery,"planted_tokens":$GramTokens,${tail(rec, loadBefore)},"arms":{${armsJson.mkString(",")}}}""")
    spark.stop()
  }
}
