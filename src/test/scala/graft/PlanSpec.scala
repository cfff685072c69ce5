package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan assertions (SURVEY.md §4): the scale-design claims in
  * the operator scaladocs — broadcasts on dimensions, top-k without a
  * global sort, pushdown/pruning reaching the parquet scan, partial
  * aggregation, no accidental cartesians — verified against the actual
  * plans Catalyst produces, so a regression shows up as a red test, not
  * as a 100 TB incident. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  test("q01 top-k plans as TakeOrderedAndProject with broadcast dimension joins") {
    val p = plan(q("q01_topk_enriched"))
    assert(p.contains("TakeOrderedAndProject"), "orderBy+limit must not be a global sort")
    assert(p.contains("BroadcastHashJoin"), "nation/region must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q02 aggregation is partial (map-side combine) with shipdate pushed to the scan") {
    val p = plan(q("q02_pricing_summary"))
    assert(p.contains("partial_sum") || p.contains("partial"), "expect partial aggregation")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter must reach the parquet scan:\n$p")
  }

  test("q03 scan prunes to the selected columns only") {
    val p = plan(q("q03_left_join"))
    val custScan = p.linesIterator.find(l => l.contains("FileScan parquet") && l.contains("c_custkey"))
    assert(custScan.exists(l => !l.contains("c_mktsegment")),
      "customer scan must not read unselected columns")
  }

  test("q170 hash embed is map-only: no Exchange anywhere in the plan") {
    val p = plan(q("q170_hash_embed"))
    assert(!p.contains("Exchange"), s"hash-embed must not shuffle:\n$p")
    // HOF lambdas evaluate interpreted (Spark codegen stops at the
    // lambda boundary) — the scale claim here is ZERO exchange, plus
    // the scan pruning to the two consumed columns
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to doc_id+text")
  }

  test("q25 top-k has no per-query window over the corpus") {
    val p = plan(q("q25_cosine_topk"))
    assert(!p.contains("Window"), "bounded aggregator, not row_number window")
    assert(p.contains("partial"), "top-k buffers must combine map-side")
  }

  test("q27 candidate generation never goes all-pairs") {
    val p = plan(q("q27_embedding_neardup"))
    assert(!p.contains("CartesianProduct"), "no unbounded cartesian")
  }

  test("q26 IVF: bounded centroid top-K, no window anywhere in the plan") {
    val p = plan(q("q26_ann_ivf"))
    assert(p.contains("TakeOrderedAndProject"),
      "centroid selection must be a bounded top-K, not a global sort")
    assert(!p.contains("Window"),
      "assignment/probe/rerank must use bounded aggregators, not row_number windows")
    assert(!p.contains("CartesianProduct"))
  }

  test("q76 LSH: bucket equi-join candidates, bounded rerank, no window") {
    val p = plan(q("q76_ann_lsh"))
    assert(!p.contains("Window"), "rerank must use the bounded aggregator")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the bucket equi-join, not a distance scan")
  }

  test("q79 decontamination probes eval shingles with a semi join") {
    val p = plan(q("q79_decontaminate"))
    assert(p.contains("LeftSemi"), "contamination probe must be a semi join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q52 fuzzy match blocks with an equi-join, never a nested loop") {
    val p = plan(q("q52_fuzzy_match"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"length block must be an equi-join key, not a theta predicate:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q05 string pipeline stays inside whole-stage codegen") {
    val p = plan(q("q05_string_funcs"))
    // '*(n)' prefixes mark WholeStageCodegen stages in executedPlan.toString
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, s"no codegen stage in:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"))
  }

  test("q09 semi join plans as a real semi join (rows never fan out)") {
    val p = plan(q("q09_semi_join"))
    assert(p.contains("LeftSemi"), s"expected LeftSemi in:\n$p")
  }

  test("q49 tf-idf window partitions per document, never corpus-wide") {
    val p = plan(q("q49_tfidf"))
    assert(p.contains("Window"), "top-3 per doc uses a window")
    assert(!p.contains("Window [") || !p.contains("PartitionBy []"),
      "window must be partitioned")
    assert(!p.contains("CartesianProduct"))
  }

  test("q88 bloom prefilter is a map-side forall over the broadcast bitset") {
    val p = plan(q("q88_bloom_decontaminate"))
    assert(p.toLowerCase.contains("bitsetoragg"),
      "bitset must build via the typed aggregator (partial, fixed-size buffers)")
    // the probe itself must be unrolled bit tests (codegen), not an
    // interpreted forall lambda (shingling's transform lambdas are
    // per-doc, off the per-shingle hot path)
    assert(!p.contains("forall"),
      "the probe must be unrolled bit tests, not an interpreted lambda")
    assert(p.contains(">> cast") || p.contains("shiftright"),
      "membership must be a plain bit-test predicate over the broadcast bitset")
    assert(p.contains("LeftSemi"), "exact verification stays a semi join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q89 keep-first is a partial groupBy-min over hashes; text never windows") {
    val p = plan(q("q89_chunk_dedup"))
    assert(!p.contains("Window"),
      "keep-first must be groupBy-min (partial), not row_number carrying chunk text")
    assert(p.contains("partial_min"), "winner selection must combine map-side")
    assert(p.contains("partial_collect_list(pos"),
      "reconstruction must collect POSITIONS, not chunk strings")
    assert(!p.contains("CartesianProduct"))
  }

  test("q94 BM25: query-term filter precedes the tf shuffle; top-k is bounded") {
    val p = plan(q("q94_bm25"))
    assert(p.contains("TakeOrderedAndProject"),
      "the top-20 must be per-partition heaps, not a global sort")
    // the isin filter must sit below the first exchange — a plan where the
    // full-vocabulary (doc, term) stream shuffles and THEN filters wastes
    // the whole exchange on terms the score never reads
    val firstExchange = p.linesIterator.indexWhere(_.contains("Exchange hashpartitioning(doc_id"))
    val filterLine = p.linesIterator.indexWhere(l => l.contains("Filter") && l.contains("tok") && l.contains(" IN "))
    assert(filterLine > firstExchange,
      s"query-term filter must be below (deeper than) the tf exchange:\n$p")
    assert(p.contains("partial_count"), "tf/dl aggregates must combine map-side")
  }

  test("q96 DSIR: model tables broadcast; the token stream joins map-side") {
    val p = plan(q("q96_dsir_weights"))
    assert(p.contains("BroadcastHashJoin"),
      "the 256-row count tables must broadcast, never sort-merge the feature stream")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge anywhere — the only real shuffle is the final per-doc groupBy:\n$p")
  }

  test("q150 trigram backoff: no window, no cartesian blowup; model aggregates combine map-side") {
    val p = plan(q("q150_trigram_backoff"))
    assert(!p.contains("Window"), s"no per-doc window anywhere:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the only all-pairs-shaped node allowed is the 1-row N/V broadcast:\n$p")
    assert(p.contains("partial"),
      s"trigram/bigram/unigram count tables must combine map-side:\n$p")
  }

  test("q97 PageRank iteration: contributions combine map-side; count rides a broadcast") {
    // the eager per-round checkpoints hide iteration internals from the
    // final q97 plan — assert on one iteration's own plan instead
    import org.apache.spark.sql.functions._
    val ord = Tables.orders(spark, sf)
      .select((col("o_orderkey") * 2).as("src"), (col("o_custkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = ord.union(ord.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val ed = edges.join(deg, "src")
    val nodes = deg.select(col("src").as("node"))
    val nn = nodes.agg(count(lit(1)).as("n"))
    val r0 = nodes.crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("n")).as("rank"), col("n"))
      // checkpoint the seed like rankTable's loop does, so the plan under
      // test is a STEADY-STATE round, not the seed's own broadcast
      .localCheckpoint(true)
    val p = graft.ops.Graph.iterate(ed, r0, 0.85).queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"), s"per-node contribution sums must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere in a round")
    // the whole point of carrying n as a column: a round has NO broadcast
    // join stage, just the one contribution shuffle
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"per-round 1-row broadcast join must be gone:\n$p")
  }

  test("q98 reservoir: TopKAgg partials, never a per-domain window") {
    val p = plan(q("q98_domain_reservoir"))
    assert(p.toLowerCase.contains("topkagg"), "reservoir must accumulate in the bounded aggregator")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial"),
      "k-row buffers must reduce before the exchange")
    assert(!p.contains("Window"), "no window materializing a domain's full row set")
  }

  test("q101 HLL: registers reduce map-side; shuffle carries only (group, bucket) rows") {
    val p = plan(q("q101_hll_registers"))
    assert(p.contains("partial_max"), "register max must combine map-side")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("q111 k-means: assignment is a 1-row broadcast, update combines map-side") {
    import org.apache.spark.sql.functions._
    val v = graft.ops.Similarity.scaled(spark, sf).select(col("vec_id"), col("ai"))
    val cs = graft.ops.KMeans.initCentroids(v, 8).localCheckpoint(true)
    val assigned = graft.ops.KMeans.assign(v, cs)
    val pa = assigned.queryExecution.executedPlan.toString
    // centroids enter as a broadcast single row — per-row argmin is
    // map-side; no shuffle, no window, no corpus-side cartesian
    assert(pa.contains("BroadcastNestedLoopJoin"), s"centroids must broadcast:\n$pa")
    assert(!pa.contains("Exchange hashpartitioning") &&
      !pa.contains("Exchange rangepartitioning"),
      s"assignment must not shuffle (broadcast exchange only):\n$pa")
    assert(!pa.contains("Window"))
    val pu = graft.ops.KMeans.update(assigned).queryExecution.executedPlan.toString
    assert(pu.contains("partial_sum"), s"update sums must combine map-side:\n$pu")
  }

  test("q115 priority sample: bounded top-k, never a corpus sort or window") {
    val p = plan(q("q115_priority_sample"))
    assert(p.contains("TakeOrderedAndProject"),
      s"the k+1 cut must be a bounded top-k:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q116 grid quantiles: counts combine map-side; scan prunes to the value column") {
    val p = plan(q("q116_grid_quantiles"))
    assert(p.contains("partial_count") || p.contains("partial"),
      s"bucket counts must combine before the exchange:\n$p")
    assert(p.contains("ReadSchema: struct<l_extendedprice:double>"),
      s"scan must read only the sketched column:\n$p")
  }

  test("q117 incremental agg: both slices aggregate partially; scan prunes") {
    val p = plan(q("q117_incremental_agg"))
    assert(p.contains("partial_sum"), s"state aggregates must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("l_returnflag") && !p.contains("l_extendedprice"),
      s"scan must not read unaggregated columns:\n$p")
  }

  test("q113 pruned read pushes the residual predicate into the surviving files") {
    val p = plan(q("q113_zorder_prune"))
    assert(p.contains("PushedFilters") && p.contains("o_custkey"),
      s"residual custkey bounds must reach the parquet scan:\n$p")
  }

  test("q112 snapshot diff: one full-outer sort-merge join, pruned scans") {
    val p = plan(q("q112_snapshot_diff"))
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"diff must be one full-outer SMJ:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"),
      s"scan must prune to the diffed columns:\n$p")
  }

  test("q124/q126 basket ops: co-located pair join, partial counts, no cartesian") {
    for (name <- Seq("q124_basket_pairs", "q126_assoc_rules")) {
      val p = plan(q(name))
      assert(p.contains("partial_count") || p.contains("partial"),
        s"$name pair counts must combine map-side:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name must never go all-pairs:\n$p")
    }
    // the rule metrics join tiny category counts as broadcasts
    assert(plan(q("q126_assoc_rules")).contains("BroadcastHashJoin"),
      "q126 category counts must broadcast")
  }

  test("q131 drift: baseline comes back as a broadcast, no window") {
    val p = plan(q("q131_lang_drift"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"corpus baseline must broadcast back:\n$p")
    assert(!p.contains("Window"), s"no window over the corpus:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q99 vocab encode: bounded top-V vocab, broadcast encode join, no window") {
    val p = plan(q("q99_vocab_encode"))
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab cap must be a bounded top-V, not a global sort:\n$p")
    assert(!p.contains("Window"),
      s"no rank window anywhere — id assignment is the 1-row sorted-array pattern:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤V vocab must broadcast to the encode join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q133 substring dedup: hash-key dup test, per-doc window, no nested loop") {
    val p = plan(q("q133_substring_dedup"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"gram join must stay an equi-join on the hash:\n$p")
    // the interval union windows per doc_id, never globally
    assert(p.contains("Window"), s"interval union runs as one window pass:\n$p")
    assert(p.contains("windowspecdefinition(doc_id"),
      s"window must partition by doc_id, never globally:\n$p")
    assert(p.contains("partial"), s"dup-gram count must combine map-side:\n$p")
  }

  test("q141 cms: fixed-width registers — map-side partial counts, no join, no window") {
    val p = plan(q("q141_cms_registers"))
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"register counts must combine map-side before the d*w-row shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the sketch is one generate + one aggregate:\n$p")
  }

  test("q142 gopher rules: pure map-side — no exchange, no join, codegen'd") {
    val p = plan(q("q142_gopher_rules"))
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Window"),
      s"the rule suite must not shuffle:\n$p")
    assert(p.contains("*("), s"rules must stay codegen'd:\n$p")
  }

  test("q143 leakage-safe split: corpus labels via one left join, no window") {
    val p = plan(q("q143_leakage_safe_split"))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"the split is a hash compare after the member join:\n$p")
  }

  test("q139 IVF semdedup: broadcast assignment, no window, cluster-keyed pair join") {
    val p = plan(q("q139_semdedup_ivf"))
    assert(!p.contains("Window"),
      s"pruned assignment must stay an expression over the broadcast, no window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the centroid frame must broadcast, not go cartesian:\n$p")
    // the pair join keys on the cluster id alone — hash-shuffled at
    // scale, AQE-broadcast at spec sf; both are cluster-keyed equi joins
    assert(p.contains("hashpartitioning(cluster") ||
      p.contains("BroadcastHashJoin [cluster"),
      s"the pair join must be an equi join keyed on cluster only:\n$p")
  }

  test("q155 pruned near-dup: map-side probe, no window, cell-keyed pair join") {
    val p = plan(q("q155_embedding_neardup_ivf"))
    assert(!p.contains("Window"),
      s"probe/assign must never be row_number windows:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"coarse/fine candidate sets must broadcast, not go cartesian:\n$p")
    // r13e: the d=2 probe is ONE object-mapped pass over the broadcast
    // codebook — no per-(vector×centroid) row ever materializes
    assert(p.contains("MapPartitions"),
      s"the d=2 assignment must run as a broadcast-codebook map pass:\n$p")
    assert(p.contains("hashpartitioning(c_id") || p.contains("BroadcastHashJoin [c_id"),
      s"the pair join must be an equi join keyed on the cell id only:\n$p")
    // r13f: the candidate set itself never DISTINCTs — dedup runs on
    // the scored >= tau sliver (keys include the cosine)
    assert(p.contains("knownfloatingpointnormalized"),
      s"distinct must run on the scored match sliver, not raw candidates:\n$p")
  }

  test("q156 unigram train: Viterbi is a map-side fold — no window, no cartesian") {
    val p = plan(q("q156_unigram_train"))
    assert(!p.contains("Window"),
      s"the DP must be a per-word expression fold, not a positions window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the piece table must broadcast into the occurrence join:\n$p")
  }

  test("q157 unigram encode: broadcast codebook join, partial doc collapse, no window") {
    val p = plan(q("q157_unigram_encode"))
    assert(!p.contains("Window"), s"token order via sorted-struct collapse:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial"), "the per-doc aggregation must combine map-side")
  }

  test("q138 substring apply: positions-only collect, map-side rebuild, no window") {
    val p = plan(q("q138_substring_apply"))
    assert(!p.contains("Window"),
      s"the rebuild must fold intervals per doc, never window:\n$p")
    assert(p.contains("partial_collect_list(pos"),
      s"cut-start lists must collect POSITIONS, not text:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"gram join must stay an equi-join on the hash:\n$p")
  }

  test("q145 fertility: broadcast codebook join, tiny-key aggregate, no window") {
    val p = plan(graft.ops.Bpe.bpeFertility(spark, sf, rounds = 2))
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab-sized codebook must broadcast to the token stream:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"the per-language rollup is one aggregate:\n$p")
  }

  test("q146 boilerplate detect: hash-keyed aggregate, no text shuffle, no window") {
    val df = q("q146_boilerplate")
    val p = plan(df)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"detection is one groupBy over gram hashes:\n$p")
    assert(p.contains("partial"),
      s"occurrence counts must combine map-side:\n$p")
    // the shuffle carries the 16-byte hash, never doc/gram text: walk
    // the ACTUAL exchange nodes and reject any whose output schema
    // carries a raw text column. (The previous string-match guard —
    // `!contains("Exchange") || !contains("gram#")` — was vacuous
    // because the hashed column is named `h`, not `gram`; VERDICT r10.)
    val shuffles = exchangeOutputs(df)
    assert(shuffles.nonEmpty, s"detection aggregates over a shuffle:\n$p")
    shuffles.foreach { cols =>
      assert(!cols.exists(Set("text", "toks")),
        s"an exchange carries raw text [${cols.mkString(", ")}]:\n$p")
    }
  }

  /** Output column names of every shuffle exchange in the physical plan,
    * descending through the AQE wrapper (whose pre-execution plan is the
    * EnsureRequirements output — exchanges present, none yet executed). */
  private def exchangeOutputs(df: DataFrame): Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(n: SparkPlan): Seq[Seq[String]] = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case e: ShuffleExchangeLike =>
        e.output.map(_.name) +: e.children.flatMap(walk)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("q147 boilerplate apply: hash equi-join probe, no window, short docs via left join") {
    val df = q("q147_boilerplate_apply")
    val p = plan(df)
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the probe must stay an equi-join on the hash:\n$p")
    // same no-text-in-shuffle contract as q146, checked the same way
    exchangeOutputs(df).foreach { cols =>
      assert(!cols.exists(Set("text", "toks")),
        s"an exchange carries raw text [${cols.mkString(", ")}]:\n$p")
    }
  }

  test("q151 nb classifier: map-side model partials, no window, no cartesian fact join") {
    val p = plan(q("q151_nb_classifier"))
    assert(!p.contains("Window"),
      s"NB is aggregates + joins, never a window:\n$p")
    // the 1-row stats/priors cross-joins legitimately compile to
    // BroadcastNestedLoopJoin(Cross, BuildRight) — ban only the
    // unbroadcast form
    assert(!p.contains("CartesianProduct"),
      s"the stats/priors frames must broadcast, not go cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin [tok"),
      s"the vocab model must broadcast to the held-out token stream:\n$p")
    assert(p.contains("partial"),
      s"class counts must combine map-side before the vocab shuffle:\n$p")
  }

  test("q152 decontam apply: positions-only cut lists, no text in any shuffle, no window") {
    val df = q("q152_decontam_apply")
    val p = plan(df)
    assert(!p.contains("Window"),
      s"the rebuild must fold intervals per doc, never window:\n$p")
    assert(p.contains("partial_collect_list(pos"),
      s"cut-start lists must collect POSITIONS, not text:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the contamination probe must stay an equi-join on the gram hash:\n$p")
    // the q146/q147 no-text-in-shuffle contract, checked on real exchanges
    exchangeOutputs(df).foreach { cols =>
      assert(!cols.exists(Set("text", "toks")),
        s"an exchange carries raw text [${cols.mkString(", ")}]:\n$p")
    }
  }

  test("q154 cdc chunks: map-side chunking, one fp exchange, no text in any shuffle") {
    val df = q("q154_cdc_chunks")
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"chunking is per-doc map-side; nothing may pair rows blindly:\n$p")
    // no map-side count combine to ask for (r18): every chunk row must
    // cross the fp exchange anyway (the output preserves rows), so the
    // count rides that single exchange as a window — a partial-agg
    // branch would be a SECOND exchange and a second chunking pass
    assert(p.contains("windowspecdefinition(chunk_fp"),
      s"the occurrence count must ride the single fp exchange:\n$p")
    // chunk text never leaves the map side — the output carries fp only
    exchangeOutputs(df).foreach { cols =>
      assert(!cols.exists(Set("text", "toks", "chunk_text")),
        s"an exchange carries raw text [${cols.mkString(", ")}]:\n$p")
    }
  }

  test("q134 bpe: no window; argmax is bounded TakeOrderedAndProject; rewrite broadcasts") {
    val p = plan(graft.ops.Bpe.bpeMerges(spark, sf, rounds = 2))
    assert(!p.contains("Window"), s"no rank window anywhere in the trainer:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row rewrite join must broadcast, not go cartesian:\n$p")
  }

  test("q135 heavy hitters: sketch partials map-side, candidates broadcast, no explode") {
    val p = plan(q("q135_heavy_hitters"))
    assert(p.contains("ObjectHashAggregate") || p.contains("partial_"),
      s"the MG summary must combine partially before the shuffle:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the ≤k candidate list must ride a broadcast back over the corpus:\n$p")
    assert(!p.contains("Generate explode(split"),
      s"no per-character explode may appear in the counting path:\n$p")
  }

  test("q136 sliding chunks: map-side only — no exchange, no join, no window") {
    val p = plan(q("q136_chunk_sliding"))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"chunking is a pure projection + generate:\n$p")
    assert(p.contains("*("), s"chunking must stay codegen'd (no *(n) span found):\n$p")
  }

  test("join strategy hints steer the planner (broadcast / shuffle_hash / merge)") {
    import org.apache.spark.sql.functions.col
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    def planOf(hint: String): String =
      o.join(c.hint(hint), o("o_custkey") === c("c_custkey"))
        .queryExecution.executedPlan.toString()
    assert(planOf("broadcast").contains("BroadcastHashJoin"))
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"))
    assert(planOf("merge").contains("SortMergeJoin"))
  }

  test("q172 entropy gate is map-only: no Exchange anywhere in the plan") {
    val p = plan(q("q172_entropy_gate"))
    assert(!p.contains("Exchange"), s"entropy gate must not shuffle:\n$p")
  }

  test("q179 matryoshka mass: prefix norms map-side, one label rollup exchange") {
    val p = plan(q("q179_matryoshka_mass"))
    // exactly the per-label aggregation's shuffle — nothing else
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"one exchange (label rollup) expected:\n$p")
    assert(p.contains("partial"), "rollup must combine map-side")
    assert(!p.contains("Window"), "no window anywhere")
  }

  test("q181 dup spectrum: fingerprint-keyed partial aggs, text never shuffles") {
    val df = q("q181_dup_spectrum")
    val p = plan(df)
    assert(p.contains("partial"), s"cluster counts must combine map-side:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
    exchangeOutputs(df).foreach { cols =>
      assert(!cols.exists(Set("text", "toks")),
        s"an exchange carries raw text [${cols.mkString(", ")}]:\n$p")
    }
  }

  test("q184 dup-quality buckets: fingerprint equi-joins, partial rollup, no text in shuffles") {
    val df = q("q184_dup_quality")
    val p = plan(df)
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cluster sizes and quality attach via equi-joins only:\n$p")
    assert(p.contains("partial"), s"bucket rollup must combine map-side:\n$p")
    exchangeOutputs(df).foreach { cols =>
      assert(!cols.exists(Set("text", "toks")),
        s"an exchange carries raw text [${cols.mkString(", ")}]:\n$p")
    }
  }

  test("q186 source-lang KL: margins join the checkpointed sliver; lang margin broadcasts") {
    // the (source, lang) count sliver is localCheckpoint'd inside the
    // op (it feeds three margins), so the visible plan is the sliver →
    // margins → KL tail — which is exactly the part whose join strategy
    // matters; the corpus-sized count below the checkpoint is one
    // partial-agg groupBy audited by its own runtime (0.3 s at sf0.1)
    val p = plan(q("q186_source_lang_kl"))
    assert(p.contains("BroadcastHashJoin"),
      s"the lang margin must broadcast back onto the sliver:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
    assert(p.contains("partial"), s"the source rollup must combine map-side:\n$p")
  }

  test("q180 neyman: |strata|-row tail over the checkpointed moments — no exchange, no nested-loop join, no window") {
    // the lang-keyed moment aggregation is checkpointed inside the op
    // and the weight total comes back from that checkpoint as a literal
    // (Materialize.sliver), so the visible tail is pure |strata|-row
    // arithmetic: one scan of the checkpointed moment table and NO
    // exchange of any kind — neither a shuffle nor a broadcast
    val p = plan(q("q180_neyman_alloc"))
    assert(p.linesIterator.exists(l => l.contains("Scan ExistingRDD") && l.contains("sqq")),
      s"the tail must read the checkpointed moment table:\n$p")
    assert(!p.contains("Exchange"), s"nothing may move after the checkpoint:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Window") &&
      !p.contains("CartesianProduct"), s"the total must enter as a literal:\n$p")
  }

  test("q182/q183/q188 composition tails: sliver arithmetic only, no window, no cartesian") {
    // these ops compose full dedup pipelines (audited via q22/q23/q24)
    // and checkpoint the pair slivers; the visible tails must stay
    // sliver-sized arithmetic — any Window or CartesianProduct here
    // means a composition regression, not a member regression
    for (name <- Seq("q182_dedup_agreement", "q183_source_dup_matrix",
      "q188_dedup_agreement_sampled")) {
      val p = plan(q(name))
      assert(!p.contains("Window") && !p.contains("CartesianProduct"),
        s"$name tail must stay sliver arithmetic:\n$p")
    }
  }

  test("q185 shared quality expression is map-only on a batch frame (batch ≡ stream law)") {
    // the streaming rollup computes quality through the SAME shared
    // expression (qualityColumnOf); on a batch frame it must be pure
    // map work — no exchange, no join — so the per-batch stream cost
    // is one pass over arriving rows before the tiny keyed state fold
    val p = graft.ops.TextAnalysis
      .qualityColumnOf(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Window"),
      s"the quality projection must not shuffle:\n$p")
  }

  test("q187 bitext: band equi-join candidates, bounded rerank, no text in shuffles") {
    import org.apache.spark.sql.functions._
    graft.functions.VectorExprs.register(spark)
    val w = graft.ops.TextAnalysis.hashVecOf(spark, sf)
      .withColumn("n2", expr("dot_long(v, v)")).filter(col("n2") > 0)
    val (nn, s) = graft.ops.TextAnalysis.bitextStats(w)
    val wb = graft.ops.TextAnalysis.bitextBanded(w, 8, nn, s)
    // n is the gate-scale corpus count: the SHUFFLE_HASH build gate
    // must keep the hints at every measured configuration
    val df = graft.ops.TextAnalysis.bitextPlan(spark, wb, 1000L, 8, 0.5)
    val p = plan(df)
    assert(!p.contains("Window"),
      s"rerank must be the bounded TopKAgg, never a row_number window:\n$p")
    // the 1-row centering-stats cross-join legitimately compiles to
    // BroadcastNestedLoopJoin (the q151 precedent) — ban only the
    // unbroadcast all-pairs form
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from the (band, bv) equi-join, never all-pairs:\n$p")
    // both band-bucket joins hash-build their bucket-bounded side — a
    // SortMergeJoin here sorts two banded vector-carrying streams
    // (bands · n rows), which measured ENOSPC through 77 GB of sort
    // spill at sf100
    assert(p.contains("ShuffledHashJoin"),
      s"the band join must hash-build its bucket-bounded side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no banded stream may be sorted for a merge join:\n$p")
    assert(p.toLowerCase.contains("partial_topkdistinctagg"),
      s"top-2 buffers must combine map-side before the per-doc exchange:\n$p")
    // candidate/cap shuffles carry ids, band longs, and vectors — never
    // document text; and the SCORED pair stream aggregates where the
    // band join produces it (no exchange may carry a cosine)
    exchangeOutputs(df).foreach { cols =>
      assert(!cols.exists(Set("text", "toks", "sig")),
        s"an exchange carries text/signature payload [${cols.mkString(", ")}]:\n$p")
      assert(!cols.contains("cos"),
        s"scored pairs must aggregate where born, never shuffle [${cols.mkString(", ")}]:\n$p")
    }
  }

  test("q187 bitext: hash-build gate falls back to spillable SMJ past the per-partition bound (ADVICE r15 item 1)") {
    import org.apache.spark.sql.functions._
    // a ShuffledHashJoin builds one un-spillable map per shuffle
    // PARTITION — on a session whose partition count does NOT scale
    // with the corpus, the gate must drop the hints so the band joins
    // degrade to (slow, spillable) SortMergeJoin instead of an OOM.
    // bitextMining's scoped shuffle-partition floor keeps tuned runs
    // under the gate; here the floor is bypassed on purpose by calling
    // the interior plan directly with a corpus count far past what the
    // session's partitions can hash-build.
    graft.functions.VectorExprs.register(spark)
    val w = graft.ops.TextAnalysis.hashVecOf(spark, sf)
      .withColumn("n2", expr("dot_long(v, v)")).filter(col("n2") > 0)
    val (nn, s) = graft.ops.TextAnalysis.bitextStats(w)
    val wb = graft.ops.TextAnalysis.bitextBanded(w, 8, nn, s)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    // smallest n past the gate for this session's partition count
    val nOver = parts * graft.ops.TextAnalysis.BitextHashBuildMax /
      (graft.ops.TextAnalysis.BitextBands * graft.ops.TextAnalysis.BitextBuildRowBytes) + 1
    val p = plan(graft.ops.TextAnalysis.bitextPlan(spark, wb, nOver, 8, 0.5))
    // the gate's observable effect is NO un-spillable hash build; what
    // Catalyst picks instead depends on size stats (broadcast at this
    // fixture's scale, spillable SMJ once the sides outgrow the
    // autoBroadcast threshold — both safe)
    assert(!p.contains("ShuffledHashJoin"),
      s"past the build gate no band join may hash-build:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"past the build gate the band joins must use a spillable/broadcast mode:\n$p")
    // and the floor bitextMining would scope for that corpus brings the
    // estimate back under the gate, so the tuned path keeps the hints
    val floor = (graft.ops.TextAnalysis.BitextBands * nOver *
      graft.ops.TextAnalysis.BitextBuildRowBytes +
      graft.ops.TextAnalysis.BitextHashBuildTarget - 1) /
      graft.ops.TextAnalysis.BitextHashBuildTarget
    assert(graft.ops.TextAnalysis.BitextBands * nOver *
      graft.ops.TextAnalysis.BitextBuildRowBytes / floor
      <= graft.ops.TextAnalysis.BitextHashBuildMax,
      "the scoped partition floor must satisfy the hash-build gate")
  }

  test("q89/q133/q138/q146 first-occurrence aggregates hash, never sort, the gram stream") {
    // min(struct(doc_id, pos)) has a non-HashAggregate-mutable buffer,
    // so Catalyst silently planned SortAggregate — sorting the
    // corpus-sized gram/chunk stream (n·tokens rows) per partition on
    // both sides of the exchange (the r16 q187-probe ENOSPC class).
    // The packed-long first-occurrence key keeps these in whole-stage
    // hash aggregation; the bound guards live in the same aggregate.
    for (name <- Seq("q89_chunk_dedup", "q133_substring_dedup",
      "q138_substring_apply", "q146_boilerplate")) {
      val p = plan(q(name))
      assert(!p.contains("SortAggregate"),
        s"$name must not sort its token-scale stream to aggregate:\n$p")
    }
  }

  test("q89/q154 chunk streams shuffle ONCE, at the pinned width (r18)") {
    // the r17 gram-stream lesson applied to the chunk streams after
    // FAMILY_r17b_grams2_sf100 / FAMILY_r18_before_sf100 measured
    // q89's third decade superlinear (21.6× loaded / 24.6× quiet):
    // both operators now move the corpus-sized chunk stream through
    // exactly ONE exchange — the explicit corpus-proportional-width
    // repartition — with no join back to the stream at all. q89's
    // winners ARE its kept positions (one aggregate); q154's count
    // rides a window over the same exchange (a count branch would be
    // column-pruned into a canonically-different exchange copy, block
    // AQE reuse, and re-run the chunking transform — the measured
    // stages 7+8 of STAGE_r18_q154_sf100_after).
    for (name <- Seq("q89_chunk_dedup", "q154_cdc_chunks")) {
      val p = plan(q(name))
      assert(p.contains("REPARTITION_BY_NUM"),
        s"$name must pin its chunk exchange width explicitly:\n$p")
      assert(!p.contains("SortAggregate"),
        s"$name must not sort its chunk stream to aggregate:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name must stay equi-keyed:\n$p")
      // the r18 regression this pins against: Catalyst extracting a
      // winner-equality filter into join keys and re-shuffling the
      // chunk stream on (doc_id, pos, hash)
      val multiKeyChunkExchange = p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(doc_id") && l.contains(", pos"))
      assert(!multiKeyChunkExchange,
        s"$name re-shuffles the chunk stream on a composite key:\n$p")
    }
    // q154's count is the window over the single exchange — no join
    val p154 = plan(q("q154_cdc_chunks"))
    assert(p154.contains("windowspecdefinition(chunk_fp"),
      s"q154's occurrence count must ride the chunk exchange:\n$p154")
    assert(!p154.contains("Join"), s"q154 needs no join at all:\n$p154")
  }

  test("q189 heavy-hitter guard: one salted corpus exchange, hot counts broadcast (r19)") {
    // the VERDICT r18 item-1 shape: hot fps' rows salt across the full
    // width (no reduce partition owns a corpus-hot fingerprint), their
    // exact counts ride a BROADCAST back, and the light tail still
    // counts on a (fp, salt) window over the single corpus exchange
    val p = plan(q("q189_cdc_chunks_hot"))
    assert(p.contains("REPARTITION_BY_NUM"),
      s"q189 must pin its chunk exchange width explicitly:\n$p")
    val saltedWindow = p.linesIterator.exists(l =>
      l.contains("windowspecdefinition(chunk_fp#") && l.contains(" salt#"))
    assert(saltedWindow,
      s"the light-tail count must window on (chunk_fp, salt):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"hot-fp counts must broadcast back, never re-shuffle the stream:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-side sort join anywhere in the guard:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the guard stays equi-keyed:\n$p")
    // AT MOST two shuffles — the no-extra-corpus-shuffle invariant
    // (ADVICE r19: an exact ==2 fails on cosmetic exchange-count drift
    // from a Spark/AQE change even when the guard's shape holds; the
    // load-bearing exchange is the salted corpus repartition, already
    // pinned by the REPARTITION_BY_NUM + salted-window asserts above,
    // and the second is the hot-count fp-sliver aggregation)
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2,
      s"expected <=2 hash exchanges (salted corpus repartition + hot-count sliver); " +
        s"got $shuffles — a third exchange means the corpus stream re-shuffles:\n$p")
    assert(p.contains("partial_count"),
      s"hot counts must combine map-side before their sliver exchange:\n$p")
  }

  test("q190 gram guard: ONE salted corpus exchange reused by both aggregate branches, hot winners broadcast (r20)") {
    // the SURVEY §22.6 fix shape: salt is computed map-side BEFORE the
    // one REPARTITION_BY_NUM exchange; the light dup sliver and the hot
    // combine both read that exchange via ReusedExchange (exchange reuse
    // is an AQE runtime decision — run first, then read the final plan);
    // hot winners ride a broadcast so no reduce task owns a hot gram
    val df = q("q190_substring_dedup_hot")
    Harness.runFully(df)
    // the adaptive plan string prints Final AND Initial sections — the
    // initial one never carries ReusedExchange, so pin the final only
    val full = df.queryExecution.executedPlan.toString()
    val p = full.split("== Initial Plan ==").head
    val salted = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("salt") &&
        l.contains("REPARTITION_BY_NUM") && !l.contains("ReusedExchange")).toSeq
    assert(salted.size == 1,
      s"exactly ONE salted corpus exchange expected, got ${salted.size}:\n$p")
    val reused = p.linesIterator.count(l =>
      l.contains("ReusedExchange") && l.contains("REPARTITION_BY_NUM"))
    assert(reused == 2,
      s"both aggregate branches must REUSE the salted exchange (got $reused " +
        s"reuses — a miss means the gram stream shuffles twice; the r20 " +
        s"nullable-pmod trap makes salt nullable and breaks canonical identity):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"hot winners must broadcast back:\n$p")
    val shjSalted = p.linesIterator.exists(l =>
      l.contains("ShuffledHashJoin") && l.contains("salt"))
    assert(shjSalted, s"the light probe join must key on (h, salt):\n$p")
    assert(!p.contains("SortMergeJoin [h"),
      s"no gram-keyed sort join anywhere in the guard:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q133/q146 default plans carry NO salt — the guard is dormant below the width boundary (r20)") {
    // the guard must not tax the uniform-corpus plan: at the test scale
    // the auto guard is off (width == session parts), so the default
    // plan is the measured r17/r18 shape verbatim
    Seq("q133_substring_dedup", "q138_substring_apply",
      "q146_boilerplate", "q147_boilerplate_apply").foreach { name =>
      val p = plan(q(name))
      assert(!p.contains("salt"), s"$name default plan must be unsalted:\n$p")
    }
  }

  test("q152 decontam gram join stays AQE-skew-eligible: no user-pinned repartition (r20)") {
    // q152's hot-gram story is different from q133/q146 BY DESIGN: its
    // semi join carries no REPARTITION_BY_NUM, so (a) at realistic eval
    // sizes the eval side broadcasts — no shuffle of train grams at all,
    // no skew surface — and (b) in the shuffled fallback the exchanges
    // are ENSURE_REQUIREMENTS, which AQE's OptimizeSkewedJoin may split
    // at runtime (it skips user-specified repartitions — the exact
    // reason q133 needed its own guard). A pinned width appearing here
    // would silently disable that escape hatch.
    val p = plan(q("q152_decontam_apply"))
    assert(!p.contains("REPARTITION_BY_NUM"),
      s"q152 must not pin its gram exchanges (AQE skew-split eligibility):\n$p")
  }

  test("BNLJ build sides are singleton stat rows, bounded at runtime (r19 sweep law)") {
    // the library's BroadcastNestedLoopJoins are the intended keyless
    // 1-row stat joins (quantile cut points, corpus totals); the sweep
    // bound makes a future corpus-sized nested-loop build a red test
    // instead of a lump-count entry — q178 declares a centroid-panel cross
    val rows = Seq("q178_label_margin").flatMap { name =>
      val df = q(name)
      Harness.runFully(df)
      ExecutedSweep.bnljBuildRows(df.queryExecution.executedPlan)
        .map(name -> _)
    }
    assert(rows.nonEmpty, "the panel is expected to carry BNLJ stat-row joins")
    rows.foreach { case (name, r) =>
      assert(r >= 0, s"$name: build-side row count must be measurable")
      assert(r <= ExecutedSweep.MaxBnljBuildRows,
        s"$name: a BNLJ build side carries $r rows (> ${ExecutedSweep.MaxBnljBuildRows})")
    }
  }

  test("q90/q93 manifest arg-mins hash, never sort, the doc stream (r17 sweep)") {
    // min_by(doc_id, ord) carries the STRING ordering key in its
    // declarative buffer — not UnsafeRow-mutable, so Catalyst silently
    // planned SortAggregate on both sides of the exchange (verified on
    // q90's physical plan), sorting the whole doc stream: the same
    // execution-mode class as the r16 min(struct) fix, found by the
    // r17 repo-wide sweep. MinByStrAgg (typed, bounded one-pair
    // buffer) keeps these in hash-mode ObjectHashAggregate.
    for (name <- Seq("q90_shard_manifest", "q93_sequence_packing",
      "q161_unigram_packing")) {
      val p = plan(q(name))
      assert(!p.contains("SortAggregate"),
        s"$name must not sort its doc stream to find shard/pack heads:\n$p")
    }
  }

  test("q129 cluster argmax hashes, never sorts, the member sliver (r18)") {
    // min(struct(-quality, doc_id)) was the LAST SortAggregate in the
    // library after the r17 sweep (struct buffers are not
    // HashAggregate-mutable). MinByDoubleAgg — the MinByStrAgg pattern
    // with a (Double, Long) buffer — keeps the per-cluster argmax in
    // hash-mode ObjectHashAggregate. Though sliver-bounded (members of
    // near-dup clusters, not the corpus), the sort ran ON BOTH SIDES
    // of the canonical_id exchange; hash mode removes it outright.
    val p = plan(q("q129_dedup_apply"))
    assert(!p.contains("SortAggregate"),
      s"q129 must not sort the cluster-member sliver to pick keeps:\n$p")
  }

  test("q178 label margins: centroids broadcast, no vector-vector join") {
    val p = plan(q("q178_label_margin"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroid set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus must never merge-join or cartesian against itself:\n$p")
  }
}
