package graft.ops

import graft.{GuardStats, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond the q79/q84 exact forms: a
  * Bloom-prefiltered decontamination (the 100 TB shape of the eval-overlap
  * scan) and C4-style chunk-level exact dedup with document
  * reconstruction (Raffel et al., JMLR 2020 §2.2 dedup three-sentence
  * spans across the corpus; with the synthetic corpus's unpunctuated
  * text, the span unit is a fixed token window).
  */
object Curation {

  /** Bloom width: 2^20 bits = 16 Ki longs ≈ 128 KiB — broadcastable to
    * every executor at any cluster size. */
  private val BloomBits = 1 << 20

  /** q50's content-independent train/eval split rule — the single
    * definition lives in TextAnalysis so q50/q79/q84/q88 cannot drift. */
  private def isEval(c: Column) = TextAnalysis.isEval(c)

  /** Corpus-wide first occurrence as ONE hash-aggregable packed LONG.
    *
    * `min(struct(doc_id, pos))` is the natural spelling, but a
    * struct-typed aggregation buffer is not HashAggregate-mutable, so
    * Catalyst silently plans **SortAggregate** — which SORTS the input
    * stream by group key in every partition, map-side AND reduce-side.
    * On these operators the input is the corpus-sized gram/chunk
    * stream (n·tokens rows), i.e. the largest frames in the library
    * paying a hidden per-partition sort (the same execution-mode class
    * as r16's q187 probe ENOSPC, where the identical spelling sorted a
    * 7.5 B-row stream). `min(doc_id · 2²⁶ + pos)` is the identical
    * total order while both fields are in bounds — doc_id ∈ [0, 2³⁷),
    * pos ∈ [0, 2²⁶) — and stays in whole-stage-codegen hash
    * aggregation. Bounds are enforced, not assumed: the same hash
    * aggregate carries the group's min/max of both fields (four plain
    * LONG slots), and [[firstOccField]] raises on any out-of-bounds
    * group before a silently-wrong min can leave the operator.
    *
    * INPUT CONTRACT (ADVICE r16 item 2): the packing accepts positions
    * up to 2²⁶ − 1 ≈ 67 M tokens/chunks per document and doc_ids up to
    * 2³⁷ − 1 ≈ 137 B — both far outside any real corpus shard (a
    * 67 M-token "document" is a concatenation bug upstream, and 137 B
    * docs/shard exceeds a whole 100 TB corpus at 1 KB/doc). A corpus
    * violating either bound fails LOUDLY via raise_error rather than
    * publishing a silently wrong exemplar; ingestion should segment
    * (not clamp) oversized documents — clamping would report a wrong
    * first-occurrence position for the surviving exemplar.
    * (Sliver-sized `min(struct)` sites — q140's per-cluster argmax,
    * q155's K-row filing — keep the struct spelling: sorting a sliver
    * is harmless and their keys are doubles.) */
  private[graft] val FirstOccPosBits = 26
  private[graft] def firstOccAggs: Seq[Column] = Seq(
    min(col("doc_id") * (1L << FirstOccPosBits) + col("pos")).as("_kp"),
    min(col("doc_id")).as("_mnd"), max(col("doc_id")).as("_mxd"),
    min(col("pos")).as("_mnp"), max(col("pos")).as("_mxp"))
  private def firstOccBoundsOk: Column =
    col("_mnd") >= 0 && col("_mxd") < (1L << (63 - FirstOccPosBits)) &&
      col("_mnp") >= 0 && col("_mxp") < (1L << FirstOccPosBits)
  /** The unpacked first-occurrence field ("doc" or "pos"), bound-guarded.
    * "pos" comes back as INT — posexplode produced an int at every call
    * site, and the unpack must not drift the published schema. */
  private[graft] def firstOccField(which: String): Column = {
    val v = which match {
      case "doc" => shiftright(col("_kp"), FirstOccPosBits)
      case "pos" => col("_kp").bitwiseAND((1L << FirstOccPosBits) - 1).cast("int")
    }
    when(firstOccBoundsOk, v).otherwise(raise_error(lit(
      s"first-occurrence packing bounds violated: doc_id must be in [0, 2^${63 - FirstOccPosBits}) and pos in [0, 2^$FirstOccPosBits)")))
  }

  /** Two md5-derived bit positions (k = 2) for a shingle — 60-bit uniform
    * ints from disjoint hex ranges, mod the filter width. md5 keeps the
    * construction engine-portable: DuckDB derives the IDENTICAL bitset,
    * so the candidate counts (not just the final answer) oracle-check. */
  private def bloomPositionSql(bits: Int): Seq[String] = Seq(
    s"CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT) % $bits",
    s"CAST(conv(substring(md5(shingle), 17, 15), 16, 10) AS BIGINT) % $bits")

  /** q88: decontamination with a Bloom-filter prefilter — same exact
    * answer as q79, different 100 TB cost shape. q79's semi-join
    * shuffles EVERY train shingle on the shingle key; here the eval
    * shingle set collapses to a fixed 128 KiB bitset (one BitsetOrAgg
    * aggregate, `words * 8` bytes per partition on the exchange), the
    * bitset broadcasts, and train shingles test membership MAP-SIDE —
    * only Bloom survivors (true contamination + the ~(kn/m)^k false
    * positives) reach the exact verification semi-join. With no false
    * negatives by construction and exact verification after, the final
    * counts equal the exact scan's; the oracle recomputes the same
    * bitset in SQL and checks the candidate counts too.
    *
    * This is Spark's own runtime-bloom-join idea (InjectRuntimeFilter)
    * made explicit and portable, with the filter sized by the operator
    * instead of left to conf thresholds. */
  def bloomDecontaminate(spark: SparkSession, dir: String,
                         bits: Int = BloomBits): DataFrame = {
    require(bits > 0 && bits % 64 == 0, "bits must be a positive multiple of 64")
    val bitsetOr = udaf(new graft.functions.BitsetOrAgg(bits / 64))
    val docs = Tables.documents(spark, dir)
    val evalSh = Dedup.shinglesOf(docs.filter(isEval(col("doc_id"))))
      .select(col("shingle")).distinct()
    val bloom = evalSh
      .select(array(bloomPositionSql(bits).map(expr): _*).as("ps"))
      .agg(bitsetOr(col("ps")).as("bits"))
    val trainSh = Dedup.shinglesOf(docs.filter(!isEval(col("doc_id"))))
    // membership is pure column algebra over the broadcast 1-row bitset,
    // UNROLLED per position (k is a compile-time constant): higher-order
    // functions like forall run interpreted, and this predicate sits on
    // the train side's hot path — unrolling keeps the probe inside
    // whole-stage codegen
    val probe = bloomPositionSql(bits).map(p => expr(
      s"((bits[CAST(($p) DIV 64 AS INT)] >> CAST(($p) % 64 AS INT)) & 1) = 1"))
      .reduce(_ && _)
    val candidates = trainSh
      .crossJoin(broadcast(bloom))
      .filter(probe)
      .select(col("doc_id"), col("shingle"))
    val candDocs = candidates.select(col("doc_id")).distinct()
      .withColumn("is_cand", lit(true))
    // exact verify over survivors only — false positives die here
    val contaminated = candidates.join(evalSh, Seq("shingle"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("is_cont", lit(true))
    docs.filter(!isEval(col("doc_id")))
      .join(candDocs, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("is_cand"), 1L).otherwise(0L)).as("n_bloom_candidates"),
        sum(when(col("is_cont"), 1L).otherwise(0L)).as("n_contaminated"))
      .withColumn("n_clean", col("n_train") - col("n_contaminated"))
  }

  /** Span unit for chunk dedup: consecutive windows of this many tokens. */
  private val ChunkTokens = 10

  /** q89: C4-style cross-corpus exact span dedup — every distinct
    * `ChunkTokens`-token chunk keeps exactly its FIRST occurrence
    * (min (doc_id, position) over the whole corpus) and every other
    * occurrence is cut; documents are reconstructed from their surviving
    * chunks in order.
    *
    * Scale shape: chunk TEXT never shuffles. The keep-first winner per
    * chunk is a groupBy-min over (md5(chunk), doc_id, pos) — 16-byte
    * keys + two ints on the exchange — and reconstruction re-derives the
    * surviving text MAP-SIDE by re-slicing the source document against
    * its kept-position list (one equi-join on doc_id), instead of
    * shuffling chunk strings back together. At 100 TB the alternative
    * (window over md5(chunk) carrying text, or reassembling from shuffled
    * chunk strings) moves the whole corpus through the exchange twice.
    *
    * The chunk-hash stream shuffles ONCE, at a corpus-proportional
    * width (r18, after FAMILY_r17b_grams2_sf100 /
    * FAMILY_r18_before_sf100 measured the third decade superlinear —
    * 21.6× loaded, 24.6× quiet): a FIXED session width fattens the
    * reduce partitions linearly with the corpus until the hash
    * aggregate changes regime (the STAGE_r17_q133_sf100 class), and
    * the r17-era join-back both re-materialized the chunking and
    * re-shuffled the stream on (doc_id, pos, h) — Catalyst extracts
    * the winner-equality filter into the join keys. The keep-first
    * aggregate is now the chunk exchange's ONLY consumer and the
    * winner rows are themselves the kept positions, so the whole
    * operator is one corpus exchange + two sliver aggregates +
    * the map-side rebuild. */
  def chunkDedup(spark: SparkSession, dir: String,
                 chunkTokens: Int = ChunkTokens): DataFrame = {
    require(chunkTokens > 0, "chunk size must be positive")
    val ct = chunkTokens
    def toksOf(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("lang"),
        split(Dedup.normText(col("text")), " ").as("toks"))
    // (doc_id, pos, chunk-hash); split(text) is never empty, so
    // ceil(size/ct) >= 1 and sequence() is always ascending
    val chunks = toksOf(Tables.documents(spark, dir))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, CAST(ceil(size(toks) / $ct.0) AS INT) - 1),
           |  c -> unhex(md5(concat_ws(' ', slice(toks, c * $ct + 1, $ct)))))""".stripMargin)))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
      .repartition(streamWidth(spark, dir, ChunkBytesPerInputByte), col("h"))
    // keep-first winners in ONE aggregate over the width-scaled
    // exchange. The winners ARE the kept (doc, pos) pairs — unlike the
    // gram family, which needs every duplicated occurrence, q89 never
    // joins back to the chunk stream at all. (The r17-era join-back was
    // worse than redundant: Catalyst extracted its
    // `doc = k_doc AND pos = k_pos` filter INTO the join keys and
    // re-shuffled the corpus-sized chunk stream on (doc_id, pos, h) —
    // a full second exchange + a second chunking materialization,
    // measured as 2 of the 4 dominant sf100 stages in
    // STAGE_r18_q89_sf100_before/after.)
    val keptPos = chunks.groupBy(col("h"))
      .agg(firstOccAggs.head, firstOccAggs.tail: _*)
      .select(firstOccField("doc").as("doc_id"),
        firstOccField("pos").as("pos"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    toksOf(Tables.documents(spark, dir))
      .join(keptPos, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        expr(s"CAST(ceil(size(toks) / $ct.0) AS BIGINT)").as("n_chunks"),
        when(col("ps").isNull, 0L).otherwise(size(col("ps")).cast("long")).as("n_kept"),
        when(col("ps").isNull, lit("")).otherwise(expr(
          s"concat_ws(' ', flatten(transform(ps, c -> slice(toks, c * $ct + 1, $ct))))"))
          .as("text_clean"))
  }

  /** Minimum duplicated-span length (tokens) for q133. Lee et al. use 50
    * BPE tokens on real corpora; 8 here so the synthetic corpus (random
    * 31-word text with injected duplicate passages) actually exercises
    * the operator — at sf0.01, ~1k 8-grams repeat across 47 docs. */
  private val MinSpanTokens = 8

  /** q133: exact substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022) — the upgrade path
    * from q89's fixed chunk grid. A token sits in a duplicated span of
    * length ≥ L iff some L-gram covering it occurs more than once in the
    * corpus (including within-doc repeats), so duplicated-span coverage
    * is EXACTLY the union of [i, i+L) over duplicated L-gram starts i —
    * no suffix array needed for the coverage/cut accounting. Per doc:
    * total tokens, tokens inside any duplicated span (`dup_tok`), tokens
    * that keep-first dedup would cut (`cut_tok` — the union over
    * occurrences that are NOT the corpus-wide first (min (doc_id, pos))
    * occurrence of their gram), and the count of maximal duplicated
    * spans (`n_spans`).
    *
    * Scale shape: gram TEXT never shuffles — occurrences reduce to
    * (doc_id, pos, md5-16B) rows; the duplicate test + first-occurrence
    * winner is ONE groupBy(hash) with map-side partials, and occurrences
    * of duplicated grams come back via one equi-join on the hash. The
    * interval union runs in ONE window pass partitioned by doc_id
    * (bounded by document length, never corpus size) computing both
    * running maxima — all-occurrence and non-first-occurrence — so the
    * follow-up groupBy(doc_id) reuses the window's exchange. At 100 TB
    * nothing here is corpus-global: the heavy tables carry 32 bytes per
    * token position. */
  /** Tokenized documents (shared by q133/q138). The explicit
    * doc_id-not-null filter (a no-op on the PK) keeps the gram branches
    * CANONICALLY IDENTICAL: the occurrence-join branch picks up an
    * inferred isnotnull(doc_id) pushdown from the downstream joins that
    * the aggregate branch doesn't, and that one-filter asymmetry is all
    * that blocked AQE's shuffle-stage reuse — without it the md5 gram
    * materialization (the dominant map cost at scale) runs once per
    * branch instead of once per query. */
  private def sdToks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), split(Dedup.normText(col("text")), " ").as("toks"))

  /** Raw gram-exchange bytes per on-disk corpus byte — measured at
    * sf100 (STAGE_r17_q133_sf100: 7.85 GB gram shuffle for an 811 MB
    * parquet corpus ≈ 9.7×; 32 B of hash+ids per token position vs
    * ~3.3 compressed bytes per token). Deliberately round-up: an
    * overestimate only makes partitions smaller. */
  private val GramBytesPerInputByte = 10L
  private val GramTargetPartBytes = 64L << 20

  /** Exchange bytes per compressed input byte for the CHUNK streams —
    * the [[streamWidth]] factors for q89/q154, which emit one row per
    * chunk rather than per token. q89: one ~55 B row (16 B raw hash +
    * doc_id + pos + UnsafeRow overhead) per `ChunkTokens` = 10 tokens
    * ≈ 33 compressed input bytes (~3.3 B/token) → ~1.7×. q154's CDC
    * rows are fatter (~80 B: 32-char hex fp — part of the OUTPUT
    * schema — plus id/spans) per ~`CdcDivisor` = 8 expected tokens
    * ≈ 26 input bytes → ~3×. Both round UP: an overestimate only
    * makes partitions smaller. */
  private val ChunkBytesPerInputByte = 2L
  private val CdcBytesPerInputByte = 4L

  /** Shuffle width for the corpus-sized gram streams (q133/q138/q146/
    * q147) — max(session width, corpus-proportional), from ONE
    * filesystem metadata listing of the documents table (the q110
    * compaction idiom; no data scan). Why it exists
    * (STAGE_r17_q133_sf100, the r17 third-decade probe): at the
    * session convention `shuffle.partitions = cores`, the gram
    * exchange is corpus-sized but the reduce width is FIXED, so at
    * sf100 every reduce partition carries ~200 MB — the final
    * hash aggregate falls back to sort mode and the stage spills
    * 18 GB memory / 7.8 GB disk where sf10 spills zero (a 36×
    * task-time decade on 10× data). An explicit corpus-proportional
    * width keeps partitions at ~64 MB at any scale; explicit
    * `repartition(n, h)` also pins the width against AQE's
    * parallelismFirst coalescing (which would merge back to
    * `defaultParallelism` and re-create the fat partitions). */
  private[graft] def gramWidth(spark: SparkSession, dir: String): Int =
    streamWidth(spark, dir, GramBytesPerInputByte)

  /** The general corpus-proportional shuffle width behind [[gramWidth]]
    * — `bytesPerInputByte` is the stream's estimated exchange bytes per
    * compressed input byte (grams emit one ~40 B row per token; chunk
    * streams emit one row per `ChunkTokens`/CDC-window tokens, so their
    * factors are smaller — each is documented at its constant).
    *
    * The metadata-listing fallback catches IOException ONLY and logs
    * loudly (ADVICE r17: a catch-all silently reverted to the fixed
    * session width — the exact fat-partition sort-fallback/spill regime
    * this width exists to prevent — on any listing failure). A
    * non-IO failure propagates: better a visible error than a silent
    * 36×-decade regression. */
  private[graft] def streamWidth(spark: SparkSession, dir: String,
                                 bytesPerInputByte: Long): Int = {
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val bytes = try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch {
      case e: java.io.IOException =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"streamWidth: metadata listing of $dir/documents.parquet failed" +
            s" (${e.getMessage}); FALLING BACK to the fixed session shuffle" +
            s" width ($sessionParts) — corpus-proportional partition sizing" +
            " is OFF for this plan and large corpora may hit the" +
            " sort-fallback/spill regime (see STAGE_r17_q133_sf100)")
        0L
    }
    math.max(sessionParts,
      (bytes * bytesPerInputByte / GramTargetPartBytes).toInt)
  }

  /** (doc_id, pos, 128-bit gram hash as 16 raw bytes); docs shorter
    * than L emit none. Full md5 width matters: at ~10^13 gram
    * positions a 64-bit key would see birthday collisions with
    * near-certainty, silently inflating dup/cut accounting. */
  private def sdGrams(toks: DataFrame, L: Int): DataFrame =
    toks
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(toks) >= $L
           |  THEN transform(sequence(0, size(toks) - $L),
           |         i -> unhex(md5(concat_ws(' ', slice(toks, i + 1, $L)))))
           |  ELSE array() END""".stripMargin)))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
      // no-op on real data (md5 of a non-null string is never null) —
      // exists so EVERY consumer branch carries the same filter the
      // inner-join branches get by inference, keeping the branches
      // canonically identical for AQE shuffle-stage reuse (q147's LEFT
      // join infers isnotnull(h) on the build side only, which was the
      // one-filter asymmetry blocking the gram exchange from reusing)
      .filter(col("h").isNotNull)

  /** Duplicated grams with their corpus-wide first occurrence — ONE
    * groupBy(hash) with map-side partials. */
  private def sdDupFirst(grams: DataFrame): DataFrame =
    grams.groupBy(col("h"))
      .agg(count(lit(1)).as("c"), firstOccAggs: _*)
      .filter(col("c") > 1)
      .select(col("h"), firstOccField("doc").as("k_doc"),
        firstOccField("pos").as("k_pos"))

  // ---- r20: gram-family heavy-hitter guard (SURVEY §22.6, VERDICT
  // r19 item 1) — the q154 straggler mechanism in JOIN form. The gram
  // occurrence join-backs key on the gram hash over the width-pinned
  // exchange, and AQE's skew-join splitting does NOT apply to
  // user-specified (REPARTITION_BY_NUM) shuffles, so one corpus-hot
  // gram concentrates its whole occurrence mass in ONE probe task —
  // measured max/med 18.87 at sf100 with a planted ~3% gram
  // (STAGE_r19_q133_gramskew). Same convention as the CDC guard:
  // hotMinOcc 0 = AUTO (engage past the corpus-width boundary), > 0 =
  // forced at that threshold (the q190–q193 gates), < 0 = off (the
  // probe's BEFORE arm). ----

  /** ~bytes per gram-occurrence row in the hash exchange (16 B raw md5
    * + doc_id/pos + UnsafeRow overhead); the denominator of the gram
    * guard's auto threshold. */
  private val GramRowBytes = 40L

  /** Auto heavy-hitter threshold for the gram streams: one full
    * target-partition-equivalent of occurrence rows (64 MB / ~40 B ≈
    * 1.6M occurrences) — the measured q154 trade (STAGE_r19_q154_skew)
    * applied to the join form: below it a hot gram adds at most ~one
    * partition-width to one task (max/med ≲ 2, spillable); past it the
    * probe task reads multiple partition-widths serially and grows
    * unboundedly with the corpus. */
  private[graft] val GramHotMinOccAuto: Long =
    GramTargetPartBytes / GramRowBytes

  /** Hot-gram detection for the guarded gram family — empty when the
    * guard is off or nothing crosses the threshold. Keys are UPPERCASE
    * hex of the 16-byte gram hash (hex()'s output case), matched with
    * `hex(h) === hh` at the tag joins. */
  private def hotGramsFor(spark: SparkSession, dir: String, L: Int, w: Int,
                          hotMinOcc: Long, sampleFraction: Double): Array[String] = {
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val guardOn = hotMinOcc > 0L || (hotMinOcc == 0L && w > sessionParts)
    if (!guardOn) Array.empty
    else detectHotKeys(
      Tables.documents(spark, dir).filter(col("doc_id").isNotNull),
      s => sdGrams(s.select(col("doc_id"),
        split(Dedup.normText(col("text")), " ").as("toks")), L)
        .select(hex(col("h")).as("k")),
      if (hotMinOcc > 0L) hotMinOcc else GramHotMinOccAuto,
      sampleFraction, "gram")
  }

  /** Occurrences of DUPLICATED grams as (doc_id, pos, is_first) — the
    * shared core of q133/q138, in two plan shapes:
    *
    * DEFAULT (no hot grams): the measured r17/r18 shape verbatim — one
    * corpus-width hash exchange shared via ReusedExchange by the
    * dup-gram aggregate and the occurrence join, SHUFFLE_HASH build
    * bounded by GramTargetPartBytes by construction.
    *
    * GUARDED (hot grams detected): salt is computed MAP-SIDE before
    * the one exchange — hot grams spread over the full width on
    * xxhash64(doc, pos), light grams keep salt 0, so a light gram's
    * single (h, 0) cell still carries its complete global stats. The
    * per-cell aggregate rides the exchange; light dup winners stay the
    * (h, salt)-co-partitioned SHUFFLE_HASH build; hot cells combine to
    * exact global stats in a sliver aggregate (≤ |hot|·w rows in,
    * ≤ |hot| out) and ride a BROADCAST back, so no reduce task ever
    * owns a hot gram's full mass — the q154 split in join form, with
    * coalesce preferring the broadcast winner exactly where the light
    * path is empty. Both exchange consumers read identical (doc_id,
    * pos, h, salt) columns — the column-pruning symmetry that keeps
    * the ReusedExchange (the r18 trap); the probe stage's extra cost
    * is two sliver-side shuffle-file re-reads, never a recompute or a
    * second corpus shuffle. */
  private def sdDupOccurrences(toks: DataFrame, L: Int, w: Int,
                               hotHex: Array[String]): DataFrame = {
    if (hotHex.isEmpty) {
      val grams = sdGrams(toks, L).repartition(w, col("h"))
      grams.join(sdDupFirst(grams).hint("SHUFFLE_HASH"), "h")
        .select(col("doc_id"), col("pos"),
          (col("doc_id") === col("k_doc") && col("pos") === col("k_pos")).as("is_first"))
    } else {
      val spark = toks.sparkSession
      import spark.implicits._
      val hotSet = broadcast(hotHex.toSeq.toDF("hh"))
      val g = sdGrams(toks, L)
        .join(hotSet, hex(col("h")) === col("hh"), "left")
        // the coalesce makes salt PROVABLY non-nullable (pmod is
        // nullable in non-ANSI mode — divisor 0 → null — so without it
        // the left joins infer an isnotnull(salt) filter on the build
        // branch ONLY, which pushes below the exchange and breaks the
        // canonical identity ReusedExchange needs; measured as a second
        // full corpus shuffle in this exact plan)
        .withColumn("salt", when(col("hh").isNotNull,
          coalesce(pmod(xxhash64(col("doc_id"), col("pos")), lit(w.toLong)),
            lit(0L)))
          .otherwise(lit(0L)))
        .drop("hh")
        .repartition(w, col("h"), col("salt"))
      val lvl1 = g.groupBy(col("h"), col("salt"))
        .agg(count(lit(1)).as("c"), firstOccAggs: _*)
      val tagged = lvl1.join(hotSet, hex(col("h")) === col("hh"), "left")
      val light = tagged.filter(col("hh").isNull && col("c") > 1)
        .select(col("h"), col("salt"),
          firstOccField("doc").as("k_doc"), firstOccField("pos").as("k_pos"))
      val hotWin = broadcast(tagged.filter(col("hh").isNotNull)
        .groupBy(col("h"))
        .agg(sum(col("c")).as("c"), min(col("_kp")).as("_kp"),
          min(col("_mnd")).as("_mnd"), max(col("_mxd")).as("_mxd"),
          min(col("_mnp")).as("_mnp"), max(col("_mxp")).as("_mxp"))
        .filter(col("c") > 1)
        .select(col("h"), firstOccField("doc").as("hk_doc"),
          firstOccField("pos").as("hk_pos")))
      g.join(light.hint("SHUFFLE_HASH"), Seq("h", "salt"), "left")
        .join(hotWin, Seq("h"), "left")
        .filter(col("k_doc").isNotNull || col("hk_doc").isNotNull)
        .select(col("doc_id"), col("pos"),
          (col("doc_id") === coalesce(col("k_doc"), col("hk_doc")) &&
            col("pos") === coalesce(col("k_pos"), col("hk_pos"))).as("is_first"))
    }
  }

  def substringDedup(spark: SparkSession, dir: String,
                     minSpan: Int = MinSpanTokens,
                     hotMinOcc: Long = 0L,
                     sampleFraction: Double = CdcHotSampleFraction): DataFrame = {
    require(minSpan > 0, "span length must be positive")
    val L = minSpan
    val toks = sdToks(spark, dir)
    // ONE corpus-width hash exchange shared by the dup-gram aggregate
    // AND the occurrence join (identical repartition child → Catalyst
    // plans a ReusedExchange, so the md5 gram materialization — the
    // probe's dominant map cost, 2× ~2700 task-s at sf100 — runs ONCE);
    // the aggregate and the join both read it exchange-free. The
    // SHUFFLE_HASH build side is the dup-gram sliver of the SAME
    // width-scaled partitioning, so the per-partition build is bounded
    // by GramTargetPartBytes BY CONSTRUCTION (vs the default SMJ, which
    // re-sorts the corpus-sized gram stream in the join stage). r20:
    // corpus-hot grams take the salted+broadcast path — see
    // sdDupOccurrences.
    val w = gramWidth(spark, dir)
    val dup = sdDupOccurrences(toks, L, w,
      hotGramsFor(spark, dir, L, w, hotMinOcc, sampleFraction))
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val end = col("pos") + lit(L)
    val stats = dup
      .withColumn("all_prev", max(col("pos") + lit(L)).over(wPrev))
      .withColumn("cut_prev",
        max(when(!col("is_first"), col("pos") + lit(L))).over(wPrev))
      .groupBy(col("doc_id"))
      .agg(
        sum(greatest(end - greatest(coalesce(col("all_prev"), col("pos")), col("pos")),
          lit(0))).cast("long").as("dup_tok"),
        sum(when(!col("is_first"),
          greatest(end - greatest(coalesce(col("cut_prev"), col("pos")), col("pos")),
            lit(0))).otherwise(lit(0))).cast("long").as("cut_tok"),
        sum(when(coalesce(col("all_prev"), lit(-1)) < col("pos"), 1L)
          .otherwise(0L)).as("n_spans"))
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("dup_tok"), lit(0L)).as("dup_tok"),
        coalesce(col("cut_tok"), lit(0L)).as("cut_tok"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
  }

  /** q138: substring-dedup APPLY — emits the deduplicated corpus that
    * q133 only accounts for (Lee et al.'s actual output): each document
    * minus every token covered by a non-first occurrence of a
    * duplicated L-gram (keep-first, corpus-wide first = min (doc_id,
    * pos) of the gram). Conservation law, spec-asserted per doc:
    * kept_tok = q133.n_tok − q133.cut_tok.
    *
    * Scale shape (the q89 rebuild pattern): document TEXT never enters
    * a shuffle — the dup test is the shared groupBy(hash) on 16-byte
    * keys, and the per-doc cut-start list is a positions-only
    * collect_list (bounded by document length). Reconstruction is
    * map-side after one doc_id equi-join: sorted cut starts merge into
    * disjoint intervals with a per-doc aggregate() fold, and the kept
    * text is the concatenation of the gap slices — no window, no
    * per-token explode on the rebuild side. */
  def substringDedupApply(spark: SparkSession, dir: String,
                          minSpan: Int = MinSpanTokens,
                          hotMinOcc: Long = 0L,
                          sampleFraction: Double = CdcHotSampleFraction): DataFrame = {
    require(minSpan > 0, "span length must be positive")
    val L = minSpan
    val toks = sdToks(spark, dir)
    // same shared-exchange + bounded-hash-build shape as substringDedup
    // (hot grams via the same salted+broadcast guard)
    val w = gramWidth(spark, dir)
    val cuts = sdDupOccurrences(toks, L, w,
      hotGramsFor(spark, dir, L, w, hotMinOcc, sampleFraction))
      .filter(!col("is_first"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ss"))
    cutRebuild(toks, cuts, L)
  }

  /** Span-removal rebuild shared by q138 and q152: given (doc_id, toks)
    * and per-doc sorted cut-start lists `ss` (each cut covering
    * [s, s+L)), merge the starts into disjoint intervals and emit the
    * kept text. Map-side after one doc_id equi-join — sorted cut starts
    * fold into intervals with a per-doc aggregate(), and the kept text
    * is the concatenation of the gap slices: no window, no per-token
    * explode on the rebuild side. */
  private def cutRebuild(toks: DataFrame, cuts: DataFrame, L: Int): DataFrame = {
    // sorted cut starts → disjoint merged intervals [st, en); all spans
    // have length L and ss is ascending, so a start s extends the last
    // interval iff s <= last.en
    val ivExpr =
      s"""aggregate(coalesce(ss, CAST(array() AS array<int>)),
         |  CAST(array() AS array<struct<st:int,en:int>>),
         |  (acc, s) -> IF(size(acc) > 0 AND s <= element_at(acc, -1).en,
         |    concat(slice(acc, 1, size(acc) - 1),
         |      array(named_struct('st', element_at(acc, -1).st,
         |        'en', greatest(element_at(acc, -1).en, s + $L)))),
         |    concat(acc, array(named_struct('st', s, 'en', s + $L)))))""".stripMargin
    toks.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tok"), expr(ivExpr).as("iv"))
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") -
          expr("aggregate(iv, 0, (a, x) -> a + (x.en - x.st))").cast("long"))
          .as("kept_tok"),
        // gap k spans [iv[k].en (or 0), iv[k+1].st (or n_tok)) — the
        // kept text is the flattened gap slices, never re-shuffled
        expr(
          """concat_ws(' ', flatten(transform(sequence(0, size(iv)),
            |  k -> slice(toks,
            |    (CASE WHEN k = 0 THEN 0 ELSE element_at(iv, k).en END) + 1,
            |    (CASE WHEN k = size(iv) THEN size(toks)
            |          ELSE element_at(iv, k + 1).st END)
            |      - (CASE WHEN k = 0 THEN 0 ELSE element_at(iv, k).en END)))))"""
            .stripMargin).as("text_clean"))
  }

  /** q152: span-level train/eval decontamination APPLY — the surgical
    * upgrade of q79's doc-level gate (and the decontamination
    * counterpart of q138): instead of DROPPING every training document
    * that shares an L-gram with the eval split, remove exactly the
    * contaminated spans and keep the rest of the document (the GPT-3
    * Appendix C discipline — Brown et al. 2020 excised 13-gram
    * collision windows rather than whole documents; L = q133's span
    * knob here, same synthetic-corpus rationale). A train token is cut
    * iff some eval-shared L-gram covers it, so the removed region is
    * the interval union over contaminated gram starts — q138's exact
    * machinery with the cut set swapped: occurrences of EVAL grams in
    * train docs, not non-first duplicate occurrences.
    *
    * Scale shape: document text never enters a shuffle — both sides
    * reduce to (doc_id, pos, 16-byte md5 gram id) rows, contamination
    * is a LEFT SEMI join on the hash (eval's distinct gram set is the
    * small side at 100 TB — benchmarks are finite — eligible for
    * runtime bloom injection), and the rebuild is the shared map-side
    * interval fold. Output: every train doc with its cleaned text —
    * docs with no contamination pass through verbatim (spec-pinned),
    * fully-contaminated docs come out empty rather than silently
    * surviving. */
  def decontamSpanApply(spark: SparkSession, dir: String,
                        minSpan: Int = MinSpanTokens): DataFrame =
    decontamApplyOf(Tables.documents(spark, dir), minSpan)

  private[graft] def decontamApplyOf(docs: DataFrame, L: Int): DataFrame = {
    require(L > 0, "span length must be positive")
    val toks = docs.select(col("doc_id"), split(Dedup.normText(col("text")), " ").as("toks"))
    // filter-first (the q79 rule): each side grams only ITS documents,
    // so every doc is grammed exactly once across the two branches
    val trainToks = toks.filter(!isEval(col("doc_id")))
    val evalGrams = sdGrams(toks.filter(isEval(col("doc_id"))), L)
      .select(col("h")).distinct()
    val cuts = sdGrams(trainToks, L)
      .join(evalGrams, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ss"))
    cutRebuild(trainToks, cuts, L)
  }

  /** q146/q147 boilerplate knobs: L-gram span and the document-frequency
    * threshold above which a gram counts as boilerplate. Real corpus
    * builds (CCNet-style) use line-level units and df in the hundreds;
    * 5-grams shared by ≥3 documents exercise the same machinery on the
    * synthetic replica structure. */
  private val BoilerGramL = 5
  private val BoilerMinDf = 3
  private[graft] val BoilerFracFlag = 0.5

  /** q146: boilerplate span detection — the cross-document counterpart
    * of q133's within-corpus substring dedup (CCNet/C4 lineage:
    * navigation bars, disclaimers, and cookie banners recur VERBATIM
    * across many pages; spans whose document frequency is
    * implausibly high are template, not content). Emits each L-gram
    * whose df ≥ threshold with its document frequency, total
    * occurrence count, and corpus-wide first location (exemplar) for
    * audit.
    *
    * Scale shape: one groupBy over 16-byte gram hashes (the q133
    * shuffle budget — text never shuffles); df is the two-phase
    * distinct-per-key aggregate, the exemplar rides the same shuffle
    * as a min(struct). Output is df-thresholded — boilerplate-sized,
    * not corpus-sized. */
  def boilerplateDetect(spark: SparkSession, dir: String,
                        L: Int = BoilerGramL,
                        minDf: Long = BoilerMinDf,
                        hotMinOcc: Long = 0L,
                        sampleFraction: Double = CdcHotSampleFraction): DataFrame = {
    val w = gramWidth(spark, dir)
    val hot = hotGramsFor(spark, dir, L, w, hotMinOcc, sampleFraction)
    if (hot.isEmpty)
      sdGrams(sdToks(spark, dir), L)
        // corpus-proportional width (see gramWidth): keeps the df
        // aggregate's reduce partitions at ~64 MB at any corpus size
        .repartition(w, col("h"))
        .groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("df"),
          (count(lit(1)).as("tf") +: firstOccAggs): _*)
        .filter(col("df") >= minDf)
        .select(lower(hex(col("h"))).as("gram_hash"), col("df"), col("tf"),
          firstOccField("doc").as("k_doc"), firstOccField("pos").as("k_pos"))
    else {
      // GUARDED: a corpus-hot gram would land its whole occurrence mass
      // in one reduce partition of the user-pinned exchange (no map-side
      // combine exists below a user repartition, and countDistinct can't
      // partially combine anyway). Salt hot grams by xxhash64(doc_id) —
      // DOC-keyed, unlike the q133 (doc,pos) salt, so every (gram, doc)
      // pair lands in exactly ONE cell and the per-cell distinct-doc
      // counts SUM to the exact global df; tf and the first-occurrence
      // min decompose under any salt. Light grams keep salt 0 (their
      // one cell is already global); hot cells combine in a sliver
      // aggregate. Residual: a hot gram concentrated in ONE mega-doc
      // stays in one cell, but that mass is bounded by the document,
      // not the corpus.
      val spark2 = spark
      import spark2.implicits._
      val hotSet = broadcast(hot.toSeq.toDF("hh"))
      val lvl1 = sdGrams(sdToks(spark, dir), L)
        .join(hotSet, hex(col("h")) === col("hh"), "left")
        // coalesce: salt must be provably non-nullable (see
        // sdDupOccurrences — nullable pmod breaks exchange reuse)
        .withColumn("salt", when(col("hh").isNotNull,
          coalesce(pmod(xxhash64(col("doc_id")), lit(w.toLong)), lit(0L)))
          .otherwise(lit(0L)))
        .drop("hh")
        .repartition(w, col("h"), col("salt"))
        .groupBy(col("h"), col("salt"))
        .agg(countDistinct(col("doc_id")).as("df"),
          (count(lit(1)).as("tf") +: firstOccAggs): _*)
      val tagged = lvl1.join(hotSet, hex(col("h")) === col("hh"), "left")
      val light = tagged.filter(col("hh").isNull)
        .select(col("h"), col("df"), col("tf"), col("_kp"),
          col("_mnd"), col("_mxd"), col("_mnp"), col("_mxp"))
      val hotC = tagged.filter(col("hh").isNotNull)
        .groupBy(col("h"))
        .agg(sum(col("df")).as("df"), sum(col("tf")).as("tf"),
          min(col("_kp")).as("_kp"), min(col("_mnd")).as("_mnd"),
          max(col("_mxd")).as("_mxd"), min(col("_mnp")).as("_mnp"),
          max(col("_mxp")).as("_mxp"))
      light.unionByName(hotC)
        .filter(col("df") >= minDf)
        .select(lower(hex(col("h"))).as("gram_hash"), col("df"), col("tf"),
          firstOccField("doc").as("k_doc"), firstOccField("pos").as("k_pos"))
    }
  }

  /** q147: per-document boilerplate fraction + flag — the apply step:
    * each document's grams probe the q146 boilerplate set and the doc
    * reports what fraction of its spans are template. Documents too
    * short to emit a gram score 0 (nothing to indict them).
    *
    * Scale shape: the probe is an equi-join on the 16-byte hash
    * against the df-thresholded (boilerplate-sized) set — AQE turns
    * it into a broadcast join whenever the set fits, and the shuffled
    * fallback stays on hashes only; the per-doc rollup is one
    * groupBy(doc_id) with map-side partials. */
  def boilerplateApply(spark: SparkSession, dir: String,
                       L: Int = BoilerGramL,
                       minDf: Long = BoilerMinDf,
                       hotMinOcc: Long = 0L,
                       sampleFraction: Double = CdcHotSampleFraction): DataFrame = {
    val toks = sdToks(spark, dir)
    val w = gramWidth(spark, dir)
    val hot = hotGramsFor(spark, dir, L, w, hotMinOcc, sampleFraction)
    val per =
      if (hot.isEmpty) {
        // same shared-exchange + bounded-hash-build shape as
        // substringDedup (one gram materialization feeds both the df
        // aggregate and the probe join via ReusedExchange; the boiler
        // set is df-thresholded — boilerplate-sized — and rides the
        // same width-scaled partitioning)
        val grams = sdGrams(toks, L).repartition(w, col("h"))
        val boiler = grams
          .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= minDf)
          .select(col("h"), lit(1L).as("b"))
        grams.join(boiler.hint("SHUFFLE_HASH"), Seq("h"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(coalesce(col("b"), lit(0L))).as("n_boiler"))
      } else {
        // GUARDED: the q146 doc-keyed salt (per-cell distinct-doc
        // counts sum exactly across a hot gram's cells), the q133
        // split on the probe side — light boiler flags stay the
        // (h, salt)-co-partitioned SHUFFLE_HASH build, hot flags ride
        // a broadcast, so a hot gram's probe rows spread over its doc
        // spectrum instead of one task
        val spark2 = spark
        import spark2.implicits._
        val hotSet = broadcast(hot.toSeq.toDF("hh"))
        val g = sdGrams(toks, L)
          .join(hotSet, hex(col("h")) === col("hh"), "left")
          // coalesce: salt must be provably non-nullable (see
          // sdDupOccurrences — nullable pmod breaks exchange reuse)
          .withColumn("salt", when(col("hh").isNotNull,
            coalesce(pmod(xxhash64(col("doc_id")), lit(w.toLong)), lit(0L)))
            .otherwise(lit(0L)))
          .drop("hh")
          .repartition(w, col("h"), col("salt"))
        val lvl1 = g.groupBy(col("h"), col("salt"))
          .agg(countDistinct(col("doc_id")).as("df"))
        val tagged = lvl1.join(hotSet, hex(col("h")) === col("hh"), "left")
        val lightB = tagged.filter(col("hh").isNull && col("df") >= minDf)
          .select(col("h"), col("salt"), lit(1L).as("b"))
        val hotB = broadcast(tagged.filter(col("hh").isNotNull)
          .groupBy(col("h")).agg(sum(col("df")).as("df"))
          .filter(col("df") >= minDf)
          .select(col("h"), lit(1L).as("hb")))
        g.join(lightB.hint("SHUFFLE_HASH"), Seq("h", "salt"), "left")
          .join(hotB, Seq("h"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("b").isNotNull || col("hb").isNotNull, 1L)
              .otherwise(0L)).as("n_boiler"))
      }
    toks.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        when(col("n_grams") > 0,
          col("n_boiler").cast("double") / col("n_grams")).otherwise(0.0))
      .withColumn("flag", col("boiler_frac") >= BoilerFracFlag)
  }

  /** q154 expected chunk length (tokens): a boundary fires when the
    * straddling-pair hash ≡ 0 (mod CdcDivisor). Real byte-level CDC
    * (LBFS) uses 48-byte Rabin windows and 2–8 KB targets; a 2-token
    * window with D = 8 puts ~5 boundaries in the synthetic ~40-token
    * docs so the operator and its robustness law actually exercise. */
  private val CdcDivisor = 8

  /** q154: content-defined chunking (Muthitacharoen, Chen & Mazières,
    * LBFS, SOSP 2001; the FastCDC lineage) — the insertion-robust
    * upgrade of q89's fixed chunk grid. A fixed grid re-fingerprints an
    * ENTIRE document after a one-token insertion (every later chunk
    * shifts); content-defined boundaries are anchored to the content
    * itself — a chunk break falls before position j iff the md5-int of
    * the straddling token pair (tok_{j−1}, tok_j) ≡ 0 mod `d` — so an
    * edit perturbs only the chunks that contain it and every chunk
    * after the next anchor fingerprints identically (the law
    * CurationOpsSpec pins with a planted insertion). This is how
    * storage/transfer dedup finds shared content across document
    * versions, and the chunk-store shape incremental corpus ingestion
    * (q91's delta discipline) wants: re-crawled pages share all but
    * O(1) chunks with their previous version.
    *
    * Output: one row per chunk — dense per-doc chunk_id, 0-based
    * start_tok, chunk_len, md5 fingerprint, and the corpus-wide
    * occurrence count of that fingerprint (n_occ > 1 = the chunk is
    * shared/duplicated somewhere).
    *
    * Scale shape: chunking is entirely map-side (one transform/filter
    * over each doc's token array — per-doc bounded); the only shuffle
    * keys on the fingerprint, with no text column in any exchange
    * (chunk text never leaves the map side — the
    * output carries fp, not text). r18: the fingerprint stream shuffles
    * ONCE, at a corpus-proportional width (q89's fixed-width sibling
    * measured 21.6× in its third decade, FAMILY_r17b_grams2_sf100), and
    * the occurrence count rides a window over that exchange instead of
    * a groupBy + join-back — the count branch's pruned exchange copy
    * blocks AQE reuse, so the join-back shape pays the expensive CDC
    * chunking transform TWICE (measured: stages 7+8 of
    * STAGE_r18_q154_sf100_after). r19 closes the one scale risk the
    * r18 shape carried (VERDICT r18 item 1): a CORPUS-HOT fingerprint
    * (boilerplate CDC chunks are common in web corpora) routes its
    * entire row mass to one reduce partition of the fp exchange — at
    * 100 TB a fp owning 10% of the stream is a single 40 TB task. The
    * heavy-hitter guard (see [[cdcChunksOf]]) detects hot fps on a 2%
    * sample, takes their exact counts from one pruned broadcast
    * aggregation, salts their rows across the full exchange width, and
    * windows only the light tail. */
  def cdcChunks(spark: SparkSession, dir: String,
                d: Int = CdcDivisor): DataFrame =
    cdcChunksOf(Tables.documents(spark, dir), d,
      streamWidth(spark, dir, CdcBytesPerInputByte))

  /** q189: [[cdcChunks]] with the heavy-hitter guard FORCED — exact
    * detection (sampleFraction = 1) at hotMinOcc = 2, so every
    * duplicated fingerprint takes the broadcast-count path and every
    * unique one the window path. Semantically identical to q154 (same
    * DuckDB oracle); exists so the guard's salted-exchange shape is
    * exercised and oracle-gated at every test scale instead of only
    * engaging past the ~1 GB corpus boundary where the auto guard
    * turns on. */
  def cdcChunksHot(spark: SparkSession, dir: String,
                   d: Int = CdcDivisor): DataFrame =
    cdcChunksOf(Tables.documents(spark, dir), d,
      streamWidth(spark, dir, CdcBytesPerInputByte),
      hotMinOcc = 2L, sampleFraction = 1.0)

  /** ~bytes per CDC chunk row in the fp exchange (32-char hex fp —
    * part of the output schema — plus ids/spans and UnsafeRow
    * overhead); the denominator of the auto hot threshold. */
  private val CdcRowBytes = 80L

  /** Auto heavy-hitter threshold: one full target-partition-equivalent
    * of rows (64 MB / ~80 B ≈ 840k occurrences). The trade the probe
    * measured (STAGE_r19_q154_skew): engaging the guard costs one extra
    * chunking materialization (~1.9× wall at sf100), so it must only
    * fire when the straggler it prevents is worth that — an undetected
    * fp below this bound adds at most ~one partition's worth of rows to
    * one task (max/med ≲ 2, spillable), while a fp past it sorts
    * multiple partition-widths serially in one task and grows
    * unboundedly with the corpus (the planted ~20%-hot fp measured
    * max/med 4.12 at sf100 width 46 and scales ∝ width). */
  private[graft] val CdcHotMinOccAuto: Long =
    GramTargetPartBytes / CdcRowBytes

  /** Detection sample for the auto guards: 2% of documents by doc-id
    * hash, fixed seed. Why sampled rather than exact (the r18 lesson):
    * exact detection is a full second materialization of the CDC/gram
    * transform on EVERY call — measured as 1095 of 2419 task-s at
    * sf100 — while a 2% doc sample costs ~2% (34 of 1400 task-s in
    * STAGE_r19_q154_skew). Miss bounds and the mega-doc screen live at
    * [[detectHotKeys]]. */
  private val CdcHotSampleFraction = 0.02
  private val CdcHotSampleSeed = 42L

  /** Loud ceiling on a broadcast hot-key sliver (the q155 codebook
    * convention: broadcast state must be provably bounded). */
  private val MaxHotFps = 1 << 20

  /** Sampled + screened heavy-hitter detection shared by the CDC (q154)
    * and gram (q133/q138/q146/q147) guards: every key of
    * `keyStreamOf(docs-slice)` (column `k`, string) whose occurrence
    * count crosses the sampling-scaled threshold, collected to the
    * driver as a bounded sliver.
    *
    * Detection input = the 2% doc-id-hash sample UNION every document
    * long enough to carry ≥ hotMin/8 occurrences of one key on its own
    * (`length(text) ≥ hotMin/4` chars — an occurrence spans ≥ 1 token,
    * and a token costs ≥ 2 chars with its separator, so a doc with c
    * occurrences of one key has ≥ 2c−1 chars). The screen closes the
    * ADVICE r19 gap: a doc-CONCENTRATED hot key evades doc-level
    * sampling with probability (1−f)^n_docs — one ~40 MB boilerplate
    * doc carrying a whole partition-equivalent of one fp was missed
    * with ~98% probability — and screened docs are counted exactly, so
    * a single-doc hot key is now detected with probability 1.
    *
    * Honest miss bound (this REPLACES the r19 comment's overclaim that
    * a missed fp is bounded by ~the threshold): an undetected key has
    * every occurrence in unsampled, unscreened docs, each carrying
    * < hotMin/8 occurrences, so a key with n occurrences needs ≥
    * 8n/hotMin such docs and is missed with P ≤ (1−f)^(8n/hotMin) —
    * ≈ 0.85 at n = hotMin (a ~1-partition blip: max/med ≲ 2,
    * spillable), ≈ 0.20 at n = 10·hotMin, ≈ 1.6e-3 at n = 40·hotMin.
    * The miss probability decays geometrically in the straggler a miss
    * would cause, and exactness is never at stake: an undetected key's
    * rows stay unsalted, so its window/aggregate count is complete.
    * `sampleFraction = 1` (the forced q189–q193 gates) counts every
    * doc — detection is exact at `hotMin`. */
  private[graft] def detectHotKeys(docs: DataFrame,
                                   keyStreamOf: DataFrame => DataFrame,
                                   hotMin: Long, sampleFraction: Double,
                                   what: String): Array[String] = {
    require(hotMin > 0, "hot threshold must be positive")
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val input =
      if (sampleFraction >= 1.0) docs
      else docs.filter(
        pmod(xxhash64(col("doc_id"), lit(CdcHotSampleSeed)), lit(1000000L)) <
          lit(math.round(sampleFraction * 1e6)) ||
          length(col("text")) >= lit(math.max(1L, hotMin / 4L)))
    // 4× safety margin under sampling (detect from ~hotMin/4 of the
    // sampled mass up); over-detection is harmless — detected keys
    // still get EXACT counts, they just take the salted/broadcast path
    val thresh = math.max(1L, math.ceil(
      if (sampleFraction >= 1.0) hotMin.toDouble
      else sampleFraction * hotMin / 4.0).toLong)
    // detection-cost accounting (VERDICT r20 item 5): label the
    // detection jobs so probe StageRecorders can attribute their task
    // time, and publish the wall cost through GuardStats — the screen's
    // work grows with the number of docs ≥ hotMin/4 chars, and this is
    // what keeps that growth visible in the artifacts
    val sc = docs.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"${GuardStats.DetectionJobPrefix}: $what")
    val t0 = System.nanoTime()
    val keys =
      try keyStreamOf(input)
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= thresh)
        .select(col("k")).collect().map(_.getString(0))
      finally {
        GuardStats.addDetectionNanos(System.nanoTime() - t0)
        sc.setJobDescription(prevDesc)
      }
    require(keys.length <= MaxHotFps,
      s"hot-$what sliver (${keys.length} keys at threshold $thresh) " +
        s"exceeds the $MaxHotFps broadcast bound — raise hotMinOcc or " +
        "dedup the corpus first")
    keys
  }

  /** The pre-exchange CDC chunk stream (doc_id, chunk_id, start_tok,
    * chunk_len, chunk_fp) — shared by the output pass, the detection
    * sample, and the exact hot-count pass so all three see identical
    * fingerprints. Entirely map-side: one transform/filter over each
    * doc's token array, per-doc bounded. */
  private def cdcChunkStream(docs: DataFrame, d: Int): DataFrame = {
    val t = docs.select(col("doc_id"), split(Dedup.normText(col("text")), " ").as("toks"))
    // 0-based chunk starts: 0, plus every j in [1, n) whose straddling
    // pair hashes to the anchor class
    val startsExpr =
      s"""concat(array(0), CASE WHEN size(toks) >= 2
         |  THEN filter(transform(sequence(1, size(toks) - 1),
         |    j -> IF(CAST(conv(substring(md5(concat(toks[j-1], ' ', toks[j])), 1, 15), 16, 10) AS BIGINT) % $d = 0, j, -1)),
         |    x -> x >= 0)
         |  ELSE CAST(array() AS array<int>) END)""".stripMargin
    t.select(col("doc_id"), col("toks"), expr(startsExpr).as("ss"))
      .select(col("doc_id"), posexplode(expr(
        """transform(ss, (s, k) ->
          |  named_struct('start_tok', CAST(s AS BIGINT),
          |    'chunk_len', CAST((IF(k = size(ss) - 1, size(toks), element_at(ss, k + 2))) - s AS BIGINT),
          |    'chunk_fp', md5(concat_ws(' ',
          |      slice(toks, s + 1,
          |        (IF(k = size(ss) - 1, size(toks), element_at(ss, k + 2))) - s)))))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        col("col.start_tok"), col("col.chunk_len"), col("col.chunk_fp"))
  }

  /** `width` ≤ 0 (the spec path, which has no table directory to size
    * from) falls back to the session shuffle width.
    *
    * `hotMinOcc` controls the r19 heavy-hitter guard: 0 (default) =
    * AUTO — engage at [[CdcHotMinOccAuto]] exactly when the stream has
    * outgrown the session width (w > session partitions, i.e. the
    * corpus-proportional regime where a hot fp is a straggler rather
    * than a ≤ 1-partition blip); > 0 = engage at that threshold with
    * the given `sampleFraction` (1.0 = exact detection, the q189
    * gate); < 0 = guard OFF, the pure r18 window shape (the skew
    * probe's BEFORE arm). Detection, its mega-doc screen, and the
    * honest miss bound live at [[detectHotKeys]]; the detect/no-detect
    * boundary and the guarded≡unguarded differential are spec laws
    * (CurationOpsSpec "exact threshold boundary" / "mega-doc screen"). */
  private[graft] def cdcChunksOf(docs: DataFrame, d: Int,
                                 width: Int = 0,
                                 hotMinOcc: Long = 0L,
                                 sampleFraction: Double = CdcHotSampleFraction): DataFrame = {
    require(d > 0, "divisor must be positive")
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val sessionParts =
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val w = if (width > 0) width else sessionParts
    val chunks = cdcChunkStream(docs, d)
    // ---- heavy-hitter detection (r19, VERDICT r18 item 1; r20 adds
    // the mega-doc screen + honest miss bound — see detectHotKeys) ----
    val guardOn = hotMinOcc > 0L || (hotMinOcc == 0L && w > sessionParts)
    val hotFps: Array[String] =
      if (!guardOn) Array.empty
      else detectHotKeys(docs,
        s => cdcChunkStream(s, d).select(col("chunk_fp").as("k")),
        if (hotMinOcc > 0L) hotMinOcc else CdcHotMinOccAuto,
        sampleFraction, "fingerprint")
    if (hotFps.isEmpty) {
      // the measured r18 single-exchange shape, verbatim: occurrence
      // count as a window over the width-bounded exchange — deliberately
      // NOT a groupBy + join-back: the output needs every chunk row, so
      // a count-aggregate branch is column-pruned to chunk_fp only, its
      // copy of the exchange canonicalizes DIFFERENT from the probe's,
      // AQE cannot reuse the shuffle stage, and the whole CDC chunking
      // transform materializes twice — measured as 1095 of 2419 task-s
      // at sf100 (STAGE_r18_q154_sf100_after, stages 7+8). The window's
      // partition-local sort is bounded at the ~64 MB width target BY
      // CONSTRUCTION for the light tail (corpus-proportional `w`),
      // spillable past that; corpus-hot fps are the guard's job above.
      chunks.repartition(w, col("chunk_fp"))
        .withColumn("n_occ", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("chunk_fp"))))
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("chunk_len"), col("chunk_fp"), col("n_occ"))
    } else {
      // HOT PATH: exact counts for the detected sliver come from ONE
      // pruned aggregation (map-side partial combine compresses each
      // hot fp to one row per map partition — skew-free by
      // construction) broadcast back; hot rows salt across the FULL
      // exchange width so no partition owns more than ~1/w of any hot
      // fp; light rows keep salt 0, so the (fp, salt) window still
      // counts them completely. coalesce prefers the exact broadcast
      // count, making the per-salt window value (partial for hot fps)
      // dead for exactly the rows it is wrong on. Costs one extra
      // chunking materialization ONLY when hot fps exist — the uniform
      // corpus keeps the r18 single-pass plan.
      val spark = docs.sparkSession
      import spark.implicits._
      val hotSet = broadcast(hotFps.toSeq.toDF("chunk_fp"))
      val hotCounts = broadcast(
        chunks.join(hotSet, Seq("chunk_fp"))
          .groupBy(col("chunk_fp")).agg(count(lit(1)).as("hot_n")))
      chunks.join(hotCounts, Seq("chunk_fp"), "left")
        .withColumn("salt", when(col("hot_n").isNotNull,
          pmod(xxhash64(col("doc_id"), col("chunk_id")), lit(w.toLong)))
          .otherwise(lit(0L)))
        .repartition(w, col("chunk_fp"), col("salt"))
        .withColumn("n_occ", coalesce(col("hot_n"), count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("chunk_fp"), col("salt")))))
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("chunk_len"), col("chunk_fp"), col("n_occ"))
    }
  }

  /** q136 window/stride (tokens). Real RAG pipelines run 256/192-ish;
    * 16/12 exercises multi-chunk docs and the end-backoff on the
    * synthetic ~54-token documents. */
  private val ChunkWindow = 16
  private val ChunkStride = 12

  /** q136: sliding-window document chunking with overlap — the
    * retrieval/RAG prep step that turns documents into fixed-size
    * overlapping passages. Chunk starts advance by `stride`; the LAST
    * chunk backs off to end exactly at the document tail (so every
    * token is covered and no chunk is shorter than `window` unless the
    * whole document is), the convention retrieval pipelines use so tail
    * tokens get full-width context. Each chunk carries its token span,
    * text, and an md5 fingerprint (the join key for chunk-level dedup
    * and embedding caches downstream).
    *
    * Scale shape: entirely map-side — one posexplode of a
    * per-document-bounded chunk list, no shuffle, no window function;
    * the plan is a single WholeStageCodegen span over the scan. */
  def chunkSliding(spark: SparkSession, dir: String,
                   window: Int = ChunkWindow,
                   stride: Int = ChunkStride): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    val (w, s) = (window, stride)
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(Dedup.normText(col("text")), " ").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n_tok"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, CASE WHEN size(toks) <= $w THEN 0
             |    ELSE CAST(ceil((size(toks) - $w) / $s.0) AS INT) END),
             |  c -> least(c * $s, greatest(size(toks) - $w, 0)))""".stripMargin)))
      .select(col("doc_id"), col("n_tok"), col("pos").cast("long").as("chunk_id"),
        col("col").cast("long").as("start_tok"),
        expr(s"concat_ws(' ', slice(toks, col + 1, $w))").as("chunk_text"))
      .withColumn("chunk_len",
        (size(split(col("chunk_text"), " "))).cast("long"))
      .withColumn("chunk_fp", md5(col("chunk_text")))
  }

  /** Default shard count for q90 (a knob; real deployments size shards
    * to ~1 GB of tokens each). */
  private[ops] val NumShards = 64

  /** q90: deterministic corpus sharding — the last step of every corpus
    * build, turning the curated document set into fixed, reproducible
    * training shards. Each doc gets a content-independent shuffle key
    * (md5 of its id): shard = key mod `nShards`, within-shard order =
    * the full hex key — so the shard layout is a pure function of doc
    * ids, stable across re-runs, cluster sizes, and partitionings (the
    * property that makes training jobs resumable and ablations
    * comparable). Output is the shard MANIFEST (per-shard doc/token
    * counts + the first doc in shuffle order), which is what a loader
    * consumes; the write path is the same keys through
    * repartitionByRange(shard) + sortWithinPartitions(ord) (asserted in
    * CurationSpec over a real parquet write).
    *
    * Scale shape: one groupBy(shard) aggregate — 64 groups regardless
    * of corpus size, partial map-side; the write is one range shuffle. */
  def shardManifest(spark: SparkSession, dir: String,
                    nShards: Int = NumShards): DataFrame = {
    require(nShards > 0, "shard count must be positive")
    // min_by(doc_id, ord) is the natural spelling, but its declarative
    // buffer carries the STRING ordering key → not UnsafeRow-mutable →
    // SortAggregate over the whole doc stream (the r16 min(struct)
    // class, found by the r17 sweep; see MinByStrAgg). The typed
    // aggregator keeps the manifest a hash-mode partial aggregation.
    val minByOrd = udaf(new graft.functions.MinByStrAgg)
    shardKeys(spark, dir, nShards)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        minByOrd(col("ord"), col("doc_id")).as("first_doc_id"))
  }

  /** (doc_id, n_tok, shard_id, ord) — the sharding keys, shared by the
    * manifest query and the writer path. */
  private[graft] def shardKeys(spark: SparkSession, dir: String,
                               nShards: Int): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(Dedup.normText(col("text")), " ")).cast("long").as("n_tok"),
        md5(col("doc_id").cast("string")).as("ord"))
      .withColumn("shard_id",
        expr(s"CAST(conv(substring(ord, 1, 15), 16, 10) AS BIGINT) % $nShards"))

  /** Token budget per packed training sequence (q93). A power of two, so
    * fill_ratio = n_tokens / capacity is exact in binary floating point —
    * no cross-engine rounding risk in the oracle compare. */
  private[ops] val PackCapacity = 2048L

  /** q93: sequence packing — the step between sharding (q90) and the
    * trainer: concatenate documents in deterministic shard order into
    * fixed `capacity`-token packs (sample packing; the loader truncates
    * or pads at pack boundaries). Pack assignment is the running token
    * count BEFORE each doc, integer-divided by capacity — a per-shard
    * prefix-sum window, so a doc's pack is a pure function of (shard,
    * order) and the packing reproduces bit-for-bit on any cluster.
    *
    * Scale shape: ONE window, partitioned by shard_id and ordered by
    * the same key the q90 writer sorts by — on the written layout this
    * is a map-side running sum per already-sorted shard file; there is
    * no global sort and no unbounded partition (shards are ~equal-sized
    * by construction). Output is the per-pack manifest the loader
    * consumes. */
  def sequencePacking(spark: SparkSession, dir: String,
                      nShards: Int = NumShards,
                      capacity: Long = PackCapacity): DataFrame =
    packBy(shardKeys(spark, dir, nShards), capacity)

  /** Shared pack-assignment tail of the packing family (q93 whitespace
    * tokens, q161 unigram-LM pieces): `keyed` carries (doc_id, n_tok,
    * ord, shard_id) under SOME tokenizer's count — the window, pack
    * arithmetic, and manifest shape are tokenizer-independent, so every
    * packing variant shares q93's conservation/exact-fill laws by
    * construction. */
  private[ops] def packBy(keyed: DataFrame, capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id")).orderBy(col("ord"))
    // typed arg-min, not min_by: the string ordering buffer plans
    // SortAggregate over the corpus stream (see shardManifest) — worse
    // here, where the stream arrives ALREADY window-sorted and the
    // built-in re-sorts it anyway because pack_id's monotonicity in ord
    // is invisible to the optimizer
    val minByOrd = udaf(new graft.functions.MinByStrAgg)
    keyed
      .withColumn("before", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("pack_id", floor(col("before") / capacity))
      .groupBy(col("shard_id"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        minByOrd(col("ord"), col("doc_id")).as("first_doc_id"))
      .withColumn("fill_ratio", col("n_tokens").cast("double") / capacity)
  }

  /** The q90/q93 shard/order keys over an arbitrary per-doc token
    * count `counts` = (doc_id, n_tok) — md5 shuffle key and shard
    * assignment identical to [[shardKeys]], so a tokenizer swap changes
    * pack BOUNDARIES only, never which shard or order a doc has. */
  private[ops] def shardKeysBy(counts: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, "shard count must be positive")
    counts
      .withColumn("ord", md5(col("doc_id").cast("string")))
      .withColumn("shard_id",
        expr(s"CAST(conv(substring(ord, 1, 15), 16, 10) AS BIGINT) % $nShards"))
  }

  /** Per-domain reservoir size for q98. */
  private val ReservoirK = 15

  /** q98: deterministic per-domain reservoir sample — keep `k` documents
    * per source, chosen by smallest salted content-independent hash
    * (md5 of source:doc_id). The selection is a pure function of ids:
    * stable across re-runs and cluster shapes, and adding documents to
    * one domain never changes another domain's sample (the property
    * random sampleBy lacks). This is the domain-balancing step of a
    * crawl pipeline — uniform within domain, capped across domains.
    *
    * Scale shape: TopKAgg accumulates the per-source reservoir with
    * MAP-SIDE partial aggregation — each partition reduces to ≤k rows
    * per source before the exchange, so a skewed mega-domain costs k
    * rows per input partition, not a window partition holding all its
    * documents. The 48-bit hash prefix is exact in a double (< 2^53),
    * so the negated-score trick (TopKAgg keeps highest-score-first)
    * loses no precision; ties (48-bit collisions) break on doc_id in
    * both engines. */
  def domainReservoir(spark: SparkSession, dir: String,
                      k: Int = ReservoirK): DataFrame = {
    require(k > 0, "reservoir size must be positive")
    val topk = udaf(new graft.functions.TopKAgg(k))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), expr(
        "CAST(conv(substring(md5(concat(source, ':', CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)")
        .as("h"))
      .groupBy(col("source"))
      .agg(topk((-col("h")).cast("double"), col("doc_id")).as("top"))
      .select(col("source"), explode(expr("transform(top, x -> x._2)")).as("doc_id"))
  }

  /** q99's vocabulary cap — every real tokenizer fixes |V| up front
    * (GPT-2 50k, Llama 32k); tokens outside the top-V encode as the OOV
    * id 0. 24 here so the tail path is actually exercised (the synthetic
    * corpus has 31 distinct tokens at every sf). */
  private[graft] val VocabSize = 24

  /** q99: tokenizer vocabulary construction + corpus encoding — the
    * final text→ids step before a trainer: rank the top-V corpus
    * vocabulary by frequency (id 1 = most frequent; ties alphabetical),
    * then encode every document as its id sequence in token order, with
    * tokens outside the vocabulary mapping to the OOV id 0.
    *
    * Scale shape: the vocabulary is a corpus AGGREGATE (one groupBy tok
    * with map-side combine) capped at top-V by a bounded
    * TakeOrderedAndProject — V is a knob (real tokenizers fix it at
    * 32k–100k), so NOTHING downstream depends on the distinct-token
    * count of the corpus. Id assignment needs no rank window at all:
    * the ≤V survivors collapse into ONE sorted array (the 1-row
    * broadcast-back pattern) and posexplode re-emits them with their
    * position as the id — at web scale the corpus-sized tables only
    * ever see a groupBy and a broadcast hash join. Encoding left-joins
    * instances to the broadcast vocab on the token key (misses become
    * OOV 0) and reassembles per doc via sort_array over (pos, id)
    * structs — order restored without a per-doc sort window. Ids are
    * string-joined in the output (the q71 pattern) so the compare is
    * list-dtype-agnostic. */
  def vocabEncode(spark: SparkSession, dir: String,
                  vocabSize: Int = VocabSize): DataFrame = {
    require(vocabSize >= 1, "vocabulary size must be positive")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(Dedup.normText(col("text")), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
      .filter(col("tok") =!= "")
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("tok")).limit(vocabSize)
    // sort_array over struct(-cnt, tok) = (cnt desc, tok asc); pos+1 = id
    val vocab = top
      .agg(sort_array(collect_list(struct((-col("cnt")).as("nc"), col("tok")))).as("vs"))
      .select(posexplode(col("vs")))
      .select(col("col.tok").as("tok"), (col("pos") + 1).cast("long").as("id"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("id", coalesce(col("id"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sort_array(collect_list(struct(col("pos"), col("id")))).as("pid"))
      .select(col("doc_id"), col("n_tok"),
        expr("concat_ws(',', transform(pid, x -> CAST(x.id AS STRING)))").as("ids"))
  }

  private val shinglesSql =
    """SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(0, greatest(len(t)-2, 0)),
      |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS shingle
      |FROM (SELECT doc_id,
      |        string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      |      FROM documents)""".stripMargin

  /** q115: priority sampling (Duffield, Lund, Thorup, "Priority sampling
    * for estimation of arbitrary subset sums", JACM 2007) — WEIGHTED
    * sampling without replacement, with per-item estimators: item i gets
    * priority p_i = w_i / u_i (u_i uniform (0,1]); the sample is the k
    * highest priorities, and with τ = the (k+1)-th priority the
    * estimator ŵ_i = max(w_i, τ) makes Σ_sample ŵ unbiased for ANY
    * subset sum — the data-mixing primitive when domains should be
    * drawn ∝ quality/length weights but downstream stats must stay
    * estimable. Chosen over Efraimidis-Spirakis keys u^(1/w) because
    * priority sampling needs NO transcendental: u_i = h_i / 2^31 with
    * md5-derived integer h_i gives p_i = w_i · 2^31 / h_i — one exact
    * integer product (w ≤ 577 here, so < 2^53) and one correctly-rounded
    * IEEE division, so both engines derive every priority and the
    * threshold bit-identically; no rounding, no tolerance, and no RNG
    * state (re-runs and engine swaps never flip a draw — the q50/q107
    * rule).
    *
    * Scale shape: priorities are map-side; the sample is ONE bounded
    * TakeOrderedAndProject of k+1 rows (never a corpus-wide sort or
    * window — the post-limit rank runs over k+1 rows); τ rides a 1-row
    * broadcast, with a left join so a corpus of ≤ k docs degrades to
    * "keep everything, ŵ = w". */
  def prioritySample(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    require(k >= 1, "sample size must be positive")
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").as("w"), expr(
        "CAST(conv(substring(md5(concat('ps:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2147483648 + 1")
        .as("h"))
      .select(col("doc_id"), col("w"),
        ((col("w") * lit(2147483648L)).cast("double") / col("h").cast("double")).as("p"))
    val top = base.orderBy(desc("p"), asc("doc_id")).limit(k + 1)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(desc("p"), asc("doc_id"))))
    val tau = top.filter(col("rn") === k + 1).select(col("p").as("tau"))
    top.filter(col("rn") <= k)
      .join(broadcast(tau), lit(true), "left")
      .select(col("doc_id"), col("w"), col("p"),
        greatest(col("w").cast("double"), coalesce(col("tau"), lit(0.0))).as("w_hat"))
  }

  /** Shared q146/q147 oracle prefix: tokenized docs and their L-gram
    * positions, keyed by gram TEXT (the hash-free ground truth the
    * Spark side's md5 keys must agree with). */
  private val boilerGramSql =
    s"""t AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id,
       |    unnest(range(0, greatest(len(toks) - $BoilerGramL + 1, 0))) AS pos,
       |    unnest(list_transform(range(0, greatest(len(toks) - $BoilerGramL + 1, 0)),
       |      i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + $BoilerGramL AS INT)], ' '))) AS gram
       |  FROM t)""".stripMargin

  /** q180 sampling budget the allocation is computed against. */
  private[graft] val NeymanBudget = 10000L

  /** q180: Neyman-optimal stratified sampling allocation (Neyman 1934;
    * Cochran 1977 §5.5) over language strata: a fixed labeling budget
    * splits ∝ n_h·σ_h of the per-stratum quality-score spread — the
    * allocation that minimizes the variance of the estimated corpus
    * quality, and the principled answer to "which languages get
    * annotation budget" that uniform or size-proportional splits get
    * wrong. Emits (lang, n_h, sigma, share, alloc).
    *
    * Determinism: quality quantizes to 10⁻⁴ fixed-point longs, the two
    * variance moments are exact integer sums (order-free; Σq² bounded
    * by n_h·10⁸ — overflow-safe past 10¹⁰ docs/stratum), and σ, the
    * n_h·σ_h weights (re-quantized at 10⁻⁶), the shares and the
    * allocations are identical expression trees over exact integers in
    * both engines.
    *
    * Scale shape: one map-side quality projection, one lang-keyed
    * moment aggregation (map-side partials), then arithmetic over
    * |strata| rows. Nothing else. */
  def neymanAllocation(spark: SparkSession, dir: String,
                       budget: Long = NeymanBudget): DataFrame = {
    val strata = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang"), expr("CAST(round(quality * 1e4) AS BIGINT)").as("qfp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_h"), sum(col("qfp")).as("sq"),
        sum(expr("qfp * qfp")).as("sqq"))
      .withColumn("sigma", expr(
        """sqrt(greatest(CAST(n_h AS DOUBLE) * CAST(sqq AS DOUBLE)
          |  - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE), CAST(0 AS DOUBLE)))
          |  / CAST(n_h AS DOUBLE) / 1e4""".stripMargin))
      .withColumn("w", expr("CAST(round(n_h * sigma * 1e6) AS BIGINT)"))
    // |strata| rows feeding both the total and the final select —
    // truncate so the corpus aggregation runs once; the weight total
    // (exact integer sum) is observed by that checkpoint instead of a
    // second agg + 1-row BroadcastExchange. An empty strata table
    // emits no rows for any literal.
    val (st, tot) = Materialize.sliver(strata)(coalesce(sum(col("w")), lit(1L)).as("t"))
    val t = tot.getLong(0)
    st.select(col("lang"), col("n_h"), round(col("sigma"), 6).as("sigma"),
        round(col("w").cast("double") / lit(t), 6).as("share"),
        expr(s"CAST(round($budget * CAST(w AS DOUBLE) / $t) AS BIGINT)").as("alloc"))
  }

  val oracle: Map[String, String] = oracleBase ++ Map(
    // q189 = q154 with the heavy-hitter guard forced: the guard is a
    // physical-plan choice, so the two share one oracle verbatim —
    // likewise the r20 forced gram-guard gates q190–q193
    "q189_cdc_chunks_hot" -> oracleBase("q154_cdc_chunks"),
    "q190_substring_dedup_hot" -> oracleBase("q133_substring_dedup"),
    "q191_substring_apply_hot" -> oracleBase("q138_substring_apply"),
    "q192_boilerplate_hot" -> oracleBase("q146_boilerplate"),
    "q193_boilerplate_apply_hot" -> oracleBase("q147_boilerplate_apply"))

  private def oracleBase: Map[String, String] = Map(
    "q180_neyman_alloc" ->
      s"""WITH q AS (${TextAnalysis.qualitySql}),
         |s AS (SELECT lang, CAST(round(quality * 1e4) AS BIGINT) AS qfp
         |      FROM q JOIN documents USING (doc_id)),
         |st AS (SELECT lang, count(*) AS n_h, CAST(sum(qfp) AS BIGINT) AS sq,
         |         CAST(sum(qfp * qfp) AS BIGINT) AS sqq
         |       FROM s GROUP BY 1),
         |sg AS (SELECT lang, n_h,
         |         sqrt(greatest(CAST(n_h AS DOUBLE) * CAST(sqq AS DOUBLE)
         |           - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE), CAST(0 AS DOUBLE)))
         |           / CAST(n_h AS DOUBLE) / 1e4 AS sigma
         |       FROM st),
         |fp AS (SELECT lang, n_h, sigma,
         |         CAST(round(n_h * sigma * 1e6) AS BIGINT) AS w FROM sg),
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS t FROM fp)
         |SELECT lang, n_h, round(sigma, 6) AS sigma,
         |  round(CAST(w AS DOUBLE) / t, 6) AS share,
         |  CAST(round($NeymanBudget * CAST(w AS DOUBLE) / t) AS BIGINT) AS alloc
         |FROM fp CROSS JOIN tot""".stripMargin,
    "q146_boilerplate" ->
      s"""WITH $boilerGramSql,
         |a AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= $BoilerMinDf),
         |k AS (SELECT gram, doc_id AS k_doc, CAST(pos AS INT) AS k_pos FROM (
         |    SELECT gram, doc_id, pos,
         |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
         |    FROM g) WHERE rn = 1)
         |SELECT md5(gram) AS gram_hash, df, tf, k_doc, k_pos
         |FROM a JOIN k USING (gram)""".stripMargin,
    "q147_boilerplate_apply" ->
      s"""WITH $boilerGramSql,
         |bd AS (SELECT gram FROM g GROUP BY gram
         |  HAVING count(DISTINCT doc_id) >= $BoilerMinDf),
         |per AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN bd.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
         |  FROM g LEFT JOIN bd USING (gram) GROUP BY g.doc_id)
         |SELECT t.doc_id,
         |  CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(per.n_boiler, 0) AS BIGINT) AS n_boiler,
         |  CASE WHEN coalesce(per.n_grams, 0) > 0
         |       THEN CAST(per.n_boiler AS DOUBLE) / per.n_grams
         |       ELSE 0.0e0 END AS boiler_frac,
         |  (CASE WHEN coalesce(per.n_grams, 0) > 0
         |        THEN CAST(per.n_boiler AS DOUBLE) / per.n_grams
         |        ELSE 0.0e0 END) >= $BoilerFracFlag AS flag
         |FROM t LEFT JOIN per USING (doc_id)""".stripMargin,
    "q115_priority_sample" ->
      """WITH base AS (
        |  SELECT doc_id, n_chars AS w,
        |    CAST('0x' || substring(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      % 2147483648 + 1 AS h
        |  FROM documents),
        |pri AS (SELECT doc_id, w,
        |          CAST(w * 2147483648 AS DOUBLE) / CAST(h AS DOUBLE) AS p
        |        FROM base),
        |ranked AS (SELECT *, row_number() OVER (ORDER BY p DESC, doc_id) AS rn FROM pri),
        |tau AS (SELECT p AS tau FROM ranked WHERE rn = 101)
        |SELECT doc_id, w, p,
        |  greatest(CAST(w AS DOUBLE), coalesce((SELECT tau FROM tau), 0.0e0)) AS w_hat
        |FROM ranked WHERE rn <= 100""".stripMargin,
    "q98_domain_reservoir" ->
      s"""SELECT source, doc_id FROM (
         |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
         |    ORDER BY CAST('0x' || substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT),
         |      doc_id) AS rn
         |  FROM documents) WHERE rn <= $ReservoirK""".stripMargin,
    "q99_vocab_encode" ->
      s"""WITH t AS (SELECT doc_id,
         |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |  FROM documents),
         |inst AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS tok
         |  FROM t),
         |inst2 AS (SELECT * FROM inst WHERE tok <> ''),
         |vc AS (SELECT tok, count(*) AS cnt FROM inst2 GROUP BY tok),
         |vocab AS (SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS id
         |  FROM vc ORDER BY cnt DESC, tok LIMIT $VocabSize)
         |SELECT doc_id, count(*) AS n_tok,
         |  string_agg(coalesce(id, 0), ',' ORDER BY pos) AS ids
         |FROM inst2 LEFT JOIN vocab USING (tok)
         |GROUP BY doc_id""".stripMargin,
    // recomputes the SAME bitset (md5 positions are engine-portable), so
    // the bloom candidate column is checked bit-for-bit, not just the
    // exact final counts
    "q88_bloom_decontaminate" ->
      s"""WITH sh AS ($shinglesSql),
         |ev AS (SELECT DISTINCT shingle FROM sh WHERE md5(CAST(doc_id AS VARCHAR)) >= 'e6'),
         |bits AS (SELECT CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) % $BloomBits AS p FROM ev
         |  UNION SELECT CAST('0x' || substring(md5(shingle), 17, 15) AS BIGINT) % $BloomBits FROM ev),
         |tr AS (SELECT doc_id, shingle FROM sh WHERE md5(CAST(doc_id AS VARCHAR)) < 'e6'),
         |cand AS (SELECT doc_id, shingle FROM tr
         |  WHERE CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) % $BloomBits IN (SELECT p FROM bits)
         |    AND CAST('0x' || substring(md5(shingle), 17, 15) AS BIGINT) % $BloomBits IN (SELECT p FROM bits)),
         |cd AS (SELECT DISTINCT doc_id FROM cand),
         |cont AS (SELECT DISTINCT c.doc_id FROM cand c JOIN ev USING (shingle))
         |SELECT d.lang, count(*) AS n_train,
         |  CAST(sum(CASE WHEN cd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_candidates,
         |  CAST(sum(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  count(*) - CAST(sum(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
         |FROM documents d LEFT JOIN cd ON cd.doc_id = d.doc_id
         |  LEFT JOIN cont ON cont.doc_id = d.doc_id
         |WHERE md5(CAST(d.doc_id AS VARCHAR)) < 'e6'
         |GROUP BY 1""".stripMargin,
    "q93_sequence_packing" ->
      s"""WITH k AS (SELECT doc_id,
         |    CAST(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tok,
         |    md5(CAST(doc_id AS VARCHAR)) AS ord
         |  FROM documents),
         |s AS (SELECT doc_id, n_tok, ord,
         |    CAST('0x' || substring(ord, 1, 15) AS BIGINT) % $NumShards AS shard_id
         |  FROM k),
         |p AS (SELECT shard_id, doc_id, n_tok, ord,
         |    CAST(floor((sum(n_tok) OVER (PARTITION BY shard_id ORDER BY ord
         |      ROWS UNBOUNDED PRECEDING) - n_tok) / $PackCapacity) AS BIGINT) AS pack_id
         |  FROM s)
         |SELECT shard_id, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  arg_min(doc_id, ord) AS first_doc_id,
         |  CAST(sum(n_tok) AS DOUBLE) / $PackCapacity AS fill_ratio
         |FROM p GROUP BY 1, 2""".stripMargin,
    "q90_shard_manifest" ->
      s"""WITH k AS (SELECT doc_id,
         |    CAST(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tok,
         |    md5(CAST(doc_id AS VARCHAR)) AS ord
         |  FROM documents)
         |SELECT CAST('0x' || substring(ord, 1, 15) AS BIGINT) % $NumShards AS shard_id,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  arg_min(doc_id, ord) AS first_doc_id
         |FROM k GROUP BY 1""".stripMargin,
    "q136_chunk_sliding" ->
      s"""WITH t AS (SELECT doc_id,
         |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |  FROM documents),
         |c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok, toks,
         |    unnest(range(0, CASE WHEN len(toks) <= $ChunkWindow THEN 1
         |      ELSE CAST(ceil((len(toks) - $ChunkWindow) / $ChunkStride.0) AS BIGINT) + 1 END)) AS chunk_id
         |  FROM t),
         |s AS (SELECT doc_id, n_tok, chunk_id,
         |    least(chunk_id * $ChunkStride, greatest(n_tok - $ChunkWindow, 0)) AS start_tok, toks
         |  FROM c)
         |SELECT doc_id, n_tok, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  array_to_string(toks[CAST(start_tok + 1 AS INT):CAST(start_tok + $ChunkWindow AS INT)], ' ') AS chunk_text,
         |  CAST(len(toks[CAST(start_tok + 1 AS INT):CAST(start_tok + $ChunkWindow AS INT)]) AS BIGINT) AS chunk_len,
         |  md5(array_to_string(toks[CAST(start_tok + 1 AS INT):CAST(start_tok + $ChunkWindow AS INT)], ' ')) AS chunk_fp
         |FROM s""".stripMargin,
    "q133_substring_dedup" ->
      s"""WITH t AS (SELECT doc_id,
         |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id,
         |    unnest(range(0, greatest(len(toks) - $MinSpanTokens + 1, 0))) AS pos,
         |    unnest(list_transform(range(0, greatest(len(toks) - $MinSpanTokens + 1, 0)),
         |      i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + $MinSpanTokens AS INT)], ' '))) AS gram
         |  FROM t),
         |k AS (SELECT gram, doc_id AS k_doc, pos AS k_pos FROM (
         |    SELECT gram, doc_id, pos,
         |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
         |      count(*) OVER (PARTITION BY gram) AS c
         |    FROM g) WHERE rn = 1 AND c > 1),
         |d AS (SELECT g.doc_id, g.pos,
         |    (g.doc_id = k.k_doc AND g.pos = k.k_pos) AS is_first
         |  FROM g JOIN k USING (gram)),
         |w AS (SELECT doc_id, pos, is_first,
         |    max(pos + $MinSpanTokens) OVER wp AS all_prev,
         |    max(CASE WHEN NOT is_first THEN pos + $MinSpanTokens END) OVER wp AS cut_prev
         |  FROM d WINDOW wp AS (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |s AS (SELECT doc_id,
         |    CAST(sum(greatest(pos + $MinSpanTokens - greatest(coalesce(all_prev, pos), pos), 0)) AS BIGINT) AS dup_tok,
         |    CAST(sum(CASE WHEN NOT is_first
         |      THEN greatest(pos + $MinSpanTokens - greatest(coalesce(cut_prev, pos), pos), 0)
         |      ELSE 0 END) AS BIGINT) AS cut_tok,
         |    CAST(sum(CASE WHEN coalesce(all_prev, -1) < pos THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
         |  FROM w GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
         |  coalesce(s.dup_tok, 0) AS dup_tok, coalesce(s.cut_tok, 0) AS cut_tok,
         |  coalesce(s.n_spans, 0) AS n_spans
         |FROM t LEFT JOIN s USING (doc_id)""".stripMargin,
    // q138: same gram/first-occurrence chain as q133, then the cut
    // spans expand to covered token positions (oracle-side only — the
    // sf0.01 corpus affords the per-token rows DuckDB-side; the Spark
    // side rebuilds from merged intervals without any per-token rows)
    // and the kept tokens re-agg in order.
    "q138_substring_apply" ->
      s"""WITH t AS (SELECT doc_id,
         |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id,
         |    unnest(range(0, greatest(len(toks) - $MinSpanTokens + 1, 0))) AS pos,
         |    unnest(list_transform(range(0, greatest(len(toks) - $MinSpanTokens + 1, 0)),
         |      i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + $MinSpanTokens AS INT)], ' '))) AS gram
         |  FROM t),
         |k AS (SELECT gram, doc_id AS k_doc, pos AS k_pos FROM (
         |    SELECT gram, doc_id, pos,
         |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
         |      count(*) OVER (PARTITION BY gram) AS c
         |    FROM g) WHERE rn = 1 AND c > 1),
         |cut AS (SELECT g.doc_id, g.pos FROM g JOIN k USING (gram)
         |  WHERE NOT (g.doc_id = k.k_doc AND g.pos = k.k_pos)),
         |cov AS (SELECT DISTINCT doc_id, pos + i AS p
         |  FROM cut, (SELECT unnest(range(0, $MinSpanTokens)) AS i)),
         |tk AS (SELECT doc_id,
         |    unnest(range(0, len(toks))) AS p, unnest(toks) AS tok FROM t),
         |kp AS (SELECT tk.doc_id, tk.p, tk.tok FROM tk
         |  LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.p = cov.p
         |  WHERE cov.p IS NULL),
         |rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tok,
         |    string_agg(tok, ' ' ORDER BY p) AS text_clean
         |  FROM kp GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
         |  coalesce(rb.kept_tok, 0) AS kept_tok,
         |  coalesce(rb.text_clean, '') AS text_clean
         |FROM t LEFT JOIN rb USING (doc_id)""".stripMargin,
    // q152: the q138 coverage/rebuild chain with the cut set swapped to
    // eval-shared grams; only train docs are emitted.
    "q152_decontam_apply" ->
      s"""WITH t AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) >= 'e6' AS ev,
         |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id, ev,
         |    unnest(range(0, greatest(len(toks) - $MinSpanTokens + 1, 0))) AS pos,
         |    unnest(list_transform(range(0, greatest(len(toks) - $MinSpanTokens + 1, 0)),
         |      i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + $MinSpanTokens AS INT)], ' '))) AS gram
         |  FROM t),
         |evg AS (SELECT DISTINCT gram FROM g WHERE ev),
         |cut AS (SELECT doc_id, pos FROM g
         |  WHERE NOT ev AND gram IN (SELECT gram FROM evg)),
         |cov AS (SELECT DISTINCT doc_id, pos + i AS p
         |  FROM cut, (SELECT unnest(range(0, $MinSpanTokens)) AS i)),
         |tk AS (SELECT doc_id,
         |    unnest(range(0, len(toks))) AS p, unnest(toks) AS tok FROM t WHERE NOT ev),
         |kp AS (SELECT tk.doc_id, tk.p, tk.tok FROM tk
         |  LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.p = cov.p
         |  WHERE cov.p IS NULL),
         |rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tok,
         |    string_agg(tok, ' ' ORDER BY p) AS text_clean
         |  FROM kp GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
         |  coalesce(rb.kept_tok, 0) AS kept_tok,
         |  coalesce(rb.text_clean, '') AS text_clean
         |FROM t LEFT JOIN rb USING (doc_id) WHERE NOT t.ev""".stripMargin,
    // q154: the same boundary rule re-derived list-wise — anchors from
    // straddling-pair md5-ints, chunks via the zip-unnest idiom, counts
    // over fingerprints. q189 is semantically identical (the
    // heavy-hitter guard changes the PLAN, never the answer), so it
    // shares the SQL via the post-Map append below.
    "q154_cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id,
         |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |  FROM documents),
         |st AS (SELECT doc_id, toks,
         |    list_prepend(0, list_filter(range(1, len(toks)),
         |      j -> CAST('0x' || substring(md5(toks[j] || ' ' || toks[j+1]), 1, 15) AS BIGINT) % $CdcDivisor = 0)) AS ss
         |  FROM t),
         |ch AS (SELECT doc_id,
         |    unnest(range(0, len(ss))) AS chunk_id,
         |    unnest(list_transform(range(0, len(ss)),
         |      k -> struct_pack(
         |        start_tok := ss[CAST(k + 1 AS INT)],
         |        chunk_len := (CASE WHEN k = len(ss) - 1 THEN len(toks) ELSE ss[CAST(k + 2 AS INT)] END) - ss[CAST(k + 1 AS INT)],
         |        chunk_fp := md5(array_to_string(
         |          toks[CAST(ss[CAST(k + 1 AS INT)] + 1 AS INT) : CAST((CASE WHEN k = len(ss) - 1 THEN len(toks) ELSE ss[CAST(k + 2 AS INT)] END) AS INT)],
         |          ' '))))) AS c
         |  FROM st),
         |f AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |    CAST(c.start_tok AS BIGINT) AS start_tok,
         |    CAST(c.chunk_len AS BIGINT) AS chunk_len, c.chunk_fp AS chunk_fp
         |  FROM ch),
         |occ AS (SELECT chunk_fp, count(*) AS n_occ FROM f GROUP BY 1)
         |SELECT doc_id, chunk_id, start_tok, chunk_len, chunk_fp, n_occ
         |FROM f JOIN occ USING (chunk_fp)""".stripMargin,
    "q89_chunk_dedup" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
         |  FROM documents),
         |ch AS (SELECT doc_id,
         |    unnest(range(0, CAST(ceil(len(t)/$ChunkTokens.0) AS BIGINT))) AS pos,
         |    unnest(list_transform(range(0, CAST(ceil(len(t)/$ChunkTokens.0) AS BIGINT)),
         |      c -> array_to_string(t[CAST(c*$ChunkTokens+1 AS INT):CAST(c*$ChunkTokens+$ChunkTokens AS INT)], ' '))) AS chunk
         |  FROM d),
         |keep AS (SELECT doc_id, pos, chunk,
         |    row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, pos) AS rn FROM ch),
         |rb AS (SELECT doc_id, count(*) AS n_kept,
         |    string_agg(chunk, ' ' ORDER BY pos) AS text_clean
         |  FROM keep WHERE rn = 1 GROUP BY doc_id)
         |SELECT d.doc_id, d.lang, CAST(ceil(len(d.t)/$ChunkTokens.0) AS BIGINT) AS n_chunks,
         |  coalesce(rb.n_kept, 0) AS n_kept, coalesce(rb.text_clean, '') AS text_clean
         |FROM d LEFT JOIN rb USING (doc_id)""".stripMargin,
  )
}
