package graft

import org.apache.spark.sql.functions._

/** Dev utility: per-partition candidate-mass diagnostic for q187's band
  * joins (VERDICT r16 item 3 — adjudicate the sf100 dominant stage's
  * max/med 1.91 with the stage's OWN key counts, not analogy).
  *
  * `runMain graft.BitextSkewProbe <sfDir> [outFile]` reproduces the
  * miner's banded frames (same rule-derived r and cap), counts the
  * candidate rows each (band, bv) bucket contributes to the candidate
  * join (t-side rows × capped-English rows), assigns each bucket to the
  * reduce partition the join's HashPartitioning would send it to
  * (murmur3 hash(band, bv) mod the tuned partition floor — the same
  * `hash` expression Spark's shuffle uses), and writes one JSON line:
  *
  *  - `parts`: the partition count the probe models (the scoped floor
  *    [[graft.ops.TextAnalysis.bitextMining]] would set for this n);
  *  - `cand_total` / `cand_max_partition` / `cand_med_partition` and
  *    `part_max_over_med`: whether candidate MASS is balanced across
  *    reduce partitions — ~1 means a high stage max/med in StageProbe
  *    is environment (page cache, steal), not a hot key;
  *  - `top_buckets`: the 8 largest (band, bv) buckets by candidate
  *    rows, with their t-side/en-side populations — the "is one band
  *    bucket the straggler" answer at key granularity.
  */
object BitextSkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = if (args.length > 1) args(1) else "BITEXT_SKEW.json"
    val spark = Harness.session("32")
    import ops.TextAnalysis._
    val json = withBitextFrames(spark, sfDir) { (_, wb, n, r) =>
      val cap = bitextBucketCap(n)
      // the partition count the miner's scoped floor would run the band
      // joins at
      val parts = math.max(bitextPartitionFloor(n), Harness.cpus(spark))
      val bandCols = (0 until BitextBands).map(b =>
        struct(lit(b).as("band"), col("bb").getItem(b).as("bv")))
      def sideCounts(langPred: org.apache.spark.sql.Column, name: String) =
        wb.filter(langPred)
          .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
          .groupBy(col("bk.band").as("band"), col("bk.bv").as("bv"))
          .agg(count(lit(1)).as(name))
      val en = sideCounts(col("lang") === "en", "cb")
      val tb = sideCounts(col("lang") =!= "en", "ct")
      // capped English population per bucket: the md5 thin keeps docs
      // whose residue mod cb lands under cap — expected kept = min(cb,
      // cap) (uniform residues; the exact count is binomial around it).
      // min(cb, cap) is the right model for a mass-balance diagnostic —
      // candidate MASS per bucket ≈ ct · min(cb, cap)
      val (perPart, top) = ops.Materialize.shared(tb.join(en, Seq("band", "bv"))
        .withColumn("ce", least(col("cb"), lit(cap.toLong)))
        .withColumn("cand", col("ct") * col("ce"))) { perBucket =>
        (perBucket
          .withColumn("part", pmod(hash(col("band"), col("bv")), lit(parts)))
          .groupBy(col("part")).agg(sum(col("cand")).as("mass"))
          .collect().map(_.getLong(1)).sorted,
          perBucket.orderBy(desc("cand")).limit(8).collect().map { row =>
            s"""{"band":${row.getInt(0)},"bv":${row.getLong(1)},"ct":${row.getLong(2)},"cb":${row.getLong(3)},"cand":${row.getLong(5)}}"""
          })
      }
      val total = perPart.sum
      val med = if (perPart.isEmpty) 0L else perPart(perPart.length / 2)
      val mx = if (perPart.isEmpty) 0L else perPart.last
      val ratio = if (med > 0) mx.toDouble / med else 0.0
      f"""{"metric":"bitext_skew_probe","sf":"$sfDir","n":$n,"r":$r,"cap":$cap,"parts":$parts,"occupied_parts":${perPart.length},"cand_total":$total,"cand_max_partition":$mx,"cand_med_partition":$med,"part_max_over_med":$ratio%.3f,"top_buckets":[${top.mkString(",")}],"loadavg":${Harness.loadAvg()}}"""
    }
    Harness.emit(outFile, json)
    spark.stop()
  }
}
