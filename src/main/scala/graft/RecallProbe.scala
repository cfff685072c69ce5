package graft

import org.apache.spark.sql.functions._

/** Dev utility: measured top-1 recall of the q187 banded bitext miner
  * against the EXACT cosine nearest English neighbor (VERDICT r14
  * item 2 — the gap between "banding implemented correctly", which
  * CurationOpsSpec proves, and "the miner finds the right pairs", which
  * only a measurement can).
  *
  * `runMain graft.RecallProbe <sfDir> [outFile] [sampleN=5000]
  * [rDelta=0] [cap=0 → the shipped bitextBucketCap(n) rule]` → one
  * JSON line with:
  *  - `recall_top1`: fraction of sampled non-English queries whose
  *    banded answer IS the exact top-1 English neighbor — the
  *    `band_hit` verdict computed inside
  *    [[graft.ops.TextAnalysis.bitextRecallFrame]] (id match, or
  *    exact raw-cosine equality recomputed from the vectors — a
  *    genuine score tie; no tolerance), the same column
  *    CurationOpsSpec's recall-floor law reads, so the probe and the
  *    spec cannot drift (ADVICE r15 item 4);
  *  - `recall_top1_nocap`: the same with the English bucket cap
  *    disabled — the difference isolates what [[graft.ops.TextAnalysis
  *    .bitextBucketCap]](n) costs vs what the banded LSH itself costs;
  *  - `coverage`: fraction of queries for which the banded miner
  *    produced ANY candidate (a query sharing no band bucket with any
  *    English doc yields nothing and counts as a miss in recall_top1);
  *  - `mean_cos_gap`: mean (exact_cos − banded_cos) over answered
  *    queries — the margin-quality degradation, 0 when recall is 1.
  *
  * Queries are the deterministic md5-order prefix of the non-English
  * corpus, so runs are re-runnable and scale points comparable. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = if (args.length > 1) args(1) else "RECALL.json"
    val sampleN = if (args.length > 2) args(2).toInt else 5000
    val rDelta = if (args.length > 3) args(3).toInt else 0
    // probe-only bucket-cap override (5th arg): the capped leg's cap —
    // measures a specific cap at a given scale; ≤ 0 (the default) is
    // the shipped bitextBucketCap(n) rule, resolved inside the frame
    // from the corpus it measures, and nocap stays the limit case
    val cap = if (args.length > 4) args(4).toInt else 0
    val spark = Harness.session("32")
    val loadBefore = Harness.loadAvg()
    val t0 = System.nanoTime()
    val f = ops.TextAnalysis.bitextRecallFrame(spark, sfDir, sampleN, rDelta, cap)
    val row = f.agg(
      count(lit(1)).as("n_q"),
      sum(when(col("band_hit"), 1L).otherwise(0L)).as("hit"),
      sum(when(col("nocap_hit"), 1L).otherwise(0L)).as("hit_nocap"),
      sum(when(col("band_en").isNotNull, 1L).otherwise(0L)).as("answered"),
      avg(when(col("band_en").isNotNull,
        col("exact_cos") - col("band_cos"))).as("cos_gap"),
      // the EFFECTIVE cap the frame resolved (constant column) — under
      // the default rule the artifact records the value, not "auto"
      max(col("cap_used")).as("cap_used")).head
    val sec = (System.nanoTime() - t0) / 1e9
    val nQ = row.getLong(0)
    def frac(i: Int): Double =
      if (nQ == 0) 0.0 else row.getLong(i).toDouble / nQ
    val gap = if (row.isNullAt(4)) 0.0 else row.getDouble(4)
    val capUsed = if (row.isNullAt(5)) cap else row.getInt(5)
    val json =
      f"""{"metric":"bitext_recall_top1","sf":"$sfDir","sample_n":$sampleN,"r_delta":$rDelta,"cap":$capUsed,"cap_arg":$cap,"n_q":$nQ,"recall_top1":${frac(1)}%.4f,"recall_top1_nocap":${frac(2)}%.4f,"coverage":${frac(3)}%.4f,"mean_cos_gap":$gap%.6f,"sec":$sec%.1f,"cpus":${Harness.cpus(spark)},"loadavg_before":$loadBefore,"loadavg_after":${Harness.loadAvg()}}"""
    Harness.emit(outFile, json)
    spark.stop()
  }
}
