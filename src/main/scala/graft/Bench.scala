package graft

/** Timing mains over [[SparkEntry.queries]], all on the [[Harness]] core:
  *
  *  - `Bench` — every query on `SPARK_GRAFT_SF_DIR`; the bare JSON is the
  *    FINAL stdout line and is also written to BENCH.json.
  *  - `Bench family <sfDir> [outFile] [graph|q1,q2,...]` — the scale-trend
  *    bench of the corpus-structural family (or the graph/agg head, or an
  *    explicit list); needs only documents + embeddings for the default
  *    family, exactly what ScaleGen synthesizes.
  *  - `Bench ab <sfDir> [outFile] [q1,q2,...]` — same-session min/median/
  *    max of flagged queries, to adjudicate cross-session deltas.
  *
  * Bench and family run the calibrated sweep ([[Harness.sweep]]); their
  * differences are the [[BenchSweep]] / [[FamilySweep]] constants.
  * `queries`/`value` stay min-of-2-sweep-runs (comparable with every
  * earlier artifact); `queries_min`/`value_min` add the targeted re-runs
  * and are the round-over-round denominator (BASELINE.md). */
object Bench {
  /** 193 sub-second-median queries: a calibrator per 10 queries costs
    * ~2% of the sweep; a query failure is recorded, never fatal (one
    * broken query must not lose the whole artifact); ONE-SIDED bound —
    * at sf0.1 the calibrator keeps improving across the whole run from
    * shared-path warm-in no pre-warm reaches, so only in-run
    * DEGRADATION rejects. */
  val BenchSweep = Harness.SweepMode(segmentLen = 10, spreadReruns = 10, maxReruns = 16,
    capGrows = true, twoSidedBound = false, failFast = false)
  /** 8–40 multi-second queries: a calibrator after every query (the
    * per-segment host constant `calib_s`), 3 spread re-runs capped at 8
    * (a fully-degraded train is a re-run-the-window case), a symmetric
    * bound, and fail-fast (a broken family query voids the scale claim). */
  val FamilySweep = Harness.SweepMode(segmentLen = 1, spreadReruns = 3, maxReruns = 8,
    capGrows = false, twoSidedBound = true, failFast = true)
  /** A/B: round-robin passes over the set, so slow load drift hits every
    * query equally; min-of-N is the load-robust current cost. */
  val AbRounds = 5

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq() => bench()
    case "family" +: rest if rest.nonEmpty => family(rest)
    case "ab" +: rest if rest.nonEmpty => ab(rest)
    case _ => sys.error("usage: Bench | Bench family <sfDir> [outFile] [graph|q1,q2,...] | " +
      "Bench ab <sfDir> [outFile] [q1,q2,...]")
  }

  private def num(o: Option[Double]): String = o.fold("null")(v => f"$v%.3f")
  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  private def list(names: Seq[String]): String = names.map("\"" + _ + "\"").mkString("[", ",", "]")

  private def bench(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val loadBefore = Harness.loadAvg()
    val spark = Harness.session("4")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val s = Harness.sweep(spark, sfDir, names, BenchSweep)
    val ok = s.results.filter(_.ok)
    val qs = obj(s.results.map(r => r.name -> (if (r.secs.nonEmpty) r.secs.min else -1.0).toString))
    val qsMin = obj(s.results.map { r =>
      val all = r.secs ++ s.rerun.get(r.name)
      r.name -> (if (all.nonEmpty) all.min else -1.0).toString })
    val det = obj(ok.collect { case r if r.detectionSec > 0 => r.name -> f"${r.detectionSec}%.3f" })
    val calib =
      s"""{"query":"${Harness.CalibratorQuery}","first_s":${num(s.calibFirst)},"last_s":${num(s.calibLast)},"ratio":${num(s.ratio)},"bound":${Harness.CalibratorBound},"label_semantics":"one-sided: REJECTED only on in-run degradation (ratio > bound); ratio < 1 is expected whole-run warm-in; judge host health from first_s + loadavg_before vs a healthy-window record"}"""
    val m = BenchSweep
    val json =
      s"""{"metric":"total","value":${ok.map(_.secs.min).sum},"unit":"sec","queries":$qs,"failed":${list(s.results.filterNot(_.ok).map(_.name))},"sf":"$sfDir","runs_per_query":2,"value_min":${ok.map(s.minOf).sum},"queries_min":$qsMin,"rerun_queries":${list(s.rerunNames)},"min_semantics":"queries_min/value_min = per-query min over the 2 sweep runs plus one targeted re-run of each degraded-segment query and the ${m.spreadReruns} widest absolute intra-query spreads (rerun_queries, train order, cap ${s.rerunCap} = max(${m.maxReruns}, degraded + ${m.spreadReruns}) so degraded picks never starve the spread quota); the round-over-round comparison denominator per BASELINE.md","segment_len":${m.segmentLen},"calib_segments":${s.segCalib.map(v => f"$v%.3f").mkString("[", ",", "]")},"segments_degraded":${list(names.filter(s.degraded))},"detection_s":$det,"detection_semantics":"per-query wall seconds of the hot-key guard's sampled detection pass (2% doc sample + mega-doc screen, GuardStats) in the min run; present only where detection ran","window_status":"${s.windowStatus}","calibrator":$calib,"loadavg_before":$loadBefore,"loadavg_after":${Harness.loadAvg()}}"""
    Harness.emit("BENCH.json", json)
    spark.stop()
  }

  /** The corpus-structural family: operators whose cost depends on corpus
    * structure, not just volume. q94/q103 are excluded (ScaleGen's
    * replica token prefixes make their literal BM25 terms vanish), q116
    * too (it sketches lineitem, which docs-only ScaleGen does not grow);
    * q182–q184 and q189 run via explicit lists. */
  private val Family = Seq(
    "q21_dedup_exact", "q22_jaccard_neardup", "q23_minhash_lsh",
    "q24_simhash_neardup", "q25_cosine_topk", "q26_ann_ivf",
    "q27_embedding_neardup", "q54_dedup_clusters", "q76_ann_lsh",
    "q88_bloom_decontaminate", "q89_chunk_dedup", "q90_shard_manifest",
    "q154_cdc_chunks", "q95_lm_xent", "q96_dsir_weights", "q99_vocab_encode",
    "q105_random_projection", "q111_kmeans", "q115_priority_sample",
    "q118_semdedup", "q119_containment", "q129_dedup_apply",
    "q130_integrity_manifest", "q133_substring_dedup", "q134_bpe_merges",
    "q135_heavy_hitters", "q136_chunk_sliding", "q138_substring_apply",
    "q139_semdedup_ivf", "q140_semdedup_apply", "q141_cms_registers",
    "q142_gopher_rules", "q143_leakage_safe_split",
    "q155_embedding_neardup_ivf", "q171_kn_xent", "q174_ngram_diversity",
    "q175_zipf_slope", "q180_neyman_alloc", "q181_dup_spectrum",
    "q186_source_lang_kl", "q187_bitext_mining")

  /** Graph/agg head: needs orders/lineitem/events, which full ScaleGen
    * synthesizes with offset key spaces. */
  private val GraphFamily = Seq(
    "q97_pagerank", "q124_basket_pairs", "q125_rfm_segments",
    "q126_assoc_rules", "q128_triangles", "q129_dedup_apply",
    "q132_cohort_retention", "q54_dedup_clusters")

  private def family(args: Seq[String]): Unit = {
    val sfDir = args(0)
    val outFile = args.lift(1).getOrElse("FAMILY_BENCH.json")
    val names = args.lift(2) match {
      case None => Family
      case Some("graph") => GraphFamily
      case Some(csv) =>
        val qs = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = qs.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        qs
    }
    val loadBefore = Harness.loadAvg()
    // shuffle partitioning independent of parallelism (AQE's pre-coalesce
    // width follows it)
    val spark = Harness.session("32",
      sys.env.get("SPARK_GRAFT_SHUFFLE").map("spark.sql.shuffle.partitions" -> _).toSeq: _*)
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val s = Harness.sweep(spark, sfDir, names, FamilySweep)
    def per(f: Harness.Swept => Double) = obj(s.results.map(r => r.name -> f"${f(r)}%.3f"))
    // on-disk input volume: the scale point describes itself instead of
    // relying on the sfDir name matching a ScaleGen rep count
    val inputMib = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
      try files.filter(p => java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .mapToLong(java.nio.file.Files.size).sum / (1024.0 * 1024.0)
      finally files.close()
    }
    val metric = if (names eq GraphFamily) "graph_agg_family_total" else "dedup_similarity_family_total"
    val m = FamilySweep
    val json =
      f"""{"metric":"$metric","value":${s.results.map(_.secs.min).sum}%.2f,"unit":"sec","sf":"$sfDir","input_mib":$inputMib%.1f,"cpus":${Harness.cpus(spark)},"shuffle_partitions":$shuffle,"aqe_initial_partitions":$shuffle,"runs_per_query":2,"aggregation":"min_of_2_warm","exec":"full_plan","value_min":${s.results.map(s.minOf).sum}%.2f,"queries_min":${per(s.minOf)},"rerun_queries":${list(s.rerunNames)},"min_semantics":"queries_min/value_min = per-query min over the 2 sweep runs plus one targeted re-run of each degraded-segment query and the ${m.spreadReruns} widest intra-query spreads (rerun_queries, cap ${m.maxReruns}); the scale-trend denominator","window_status":"${s.windowStatus}","calibrator":{"query":"${Harness.CalibratorQuery}","first_s":${num(s.calibFirst)},"last_s":${num(s.calibLast)},"ratio":${num(s.ratio)},"bound":${Harness.CalibratorBound},"label_semantics":"intra-train stability only; compare first_s to a healthy-window record for host health"},"calib_s":${obj(s.results.zip(s.segCalib).map { case (r, c) => r.name -> f"$c%.3f" })},"segments_degraded":${list(names.filter(s.degraded))},"segment_semantics":"calib_s[q] = one calibrator wall right after q's runs — the per-segment host constant; segments_degraded = queries whose segment calibrator exceeded bound x first_s (their timings are window-suspect and were re-run)","loadavg_before":$loadBefore,"loadavg_after":${Harness.loadAvg()},"queries":${per(_.secs.min)},"detection_s":${obj(s.results.collect { case r if r.detectionSec > 0 => r.name -> f"${r.detectionSec}%.3f" })},"detection_semantics":"per-query wall seconds of the hot-key guard's sampled detection pass (2%% doc sample + mega-doc screen) in the min run; present only where detection ran"}"""
    Harness.emit(outFile, json)
    spark.stop()
  }

  /** The round-9 flagged set, the A/B default. */
  private val DefaultFlagged = Seq(
    "q37_csv_roundtrip", "q38_sink_insert_absent", "q39_merge_timestamped",
    "q40_cube_agg", "q41_grouping_sets", "q42_pivot_status",
    "q86_stream_join", "q87_pq_ann", "q97_pagerank",
    "q119_containment", "q127_robust_outliers", "q136_chunk_sliding")

  private def ab(args: Seq[String]): Unit = {
    val sfDir = args(0)
    val outFile = args.lift(1).getOrElse("AB.json")
    val queries = args.lift(2).fold(DefaultFlagged)(_.split(",").toSeq)
    val spark = Harness.session("32")
    val loadBefore = Harness.loadAvg()
    def time(q: String): Double = Harness.time(spark, q)(SparkEntry.queries(q)(spark, sfDir)).get.sec
    time(queries.head) // codegen/classload warmup, uncounted
    val runs = (1 to AbRounds).flatMap(_ => queries.map(q => q -> time(q)))
    val qs = obj(queries.map { q =>
      val ts = runs.collect { case (`q`, t) => t }.sorted
      q -> f"""{"min":${ts.head}%.3f,"median":${ts(ts.size / 2)}%.3f,"max":${ts.last}%.3f}""" })
    val json =
      s"""{"metric":"same_session_ab_r09","sf":"$sfDir","cpus":${Harness.cpus(spark)},"runs_per_query":$AbRounds,"aggregation":"min_median_max_round_robin","loadavg_before":$loadBefore,"loadavg_after":${Harness.loadAvg()},"queries":$qs}"""
    Harness.emit(outFile, json)
    spark.stop()
  }
}
