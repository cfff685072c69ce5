package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Document deduplication for training-data pipelines: exact, exact-jaccard
  * over shingle sets (inverted index), MinHash-LSH (approximate scale
  * path), SimHash. The north-star extension set from SURVEY.md §7.3(6).
  *
  * Scale design: everything is expressed as explode → shuffle-on-key →
  * aggregate; no driver-side state, no cross product. Candidate
  * enumeration is always bounded: exact jaccard enumerates only over
  * per-doc *prefix* shingles (Bayardo prefix filtering — heavy hitters
  * rank last and never drive the join), MinHash-LSH replaces "share a
  * shingle" with "share a band bucket", SimHash bands distinct
  * bit-packed signatures by 32-bit chunk quads.
  *
  * Determinism/oracle design: every hash here is md5 — bit-identical in
  * Spark and DuckDB — so q22/q23/q24 are all checkable against DuckDB
  * SQL implementing the very same pipeline (CORRECTNESS gate), unlike
  * seeded xxhash/murmur which only Spark computes.
  */
object Dedup {

  /** Candidate-doc ids above this stop broadcasting in verifyJaccard
    * (~4M longs ≈ 32 MB serialized — well inside executor broadcast
    * budgets; beyond it the semi-join shuffles instead of failing). */
  private val MaxBroadcastCandDocs = 4L << 20

  /** Tighter guard for broadcasting the hash-ARRAY index (each row
    * carries a doc's sorted shingle hashes, ~hundreds of bytes): up to
    * ~512k docs ≈ low hundreds of MB. Under it, the verify joins build
    * a hash relation from the array side and the (much larger)
    * candidate-pair set never shuffles — measured 2× verify speedup at
    * synthetic sf1. Beyond it, sort-merge still works. */
  private val MaxBroadcastArrayDocs = 512L << 10

  /** Canonical text normalization shared by the dedup family. */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Distinct (doc_id, 3-word-shingle) pairs. Distinctness is per-doc, so
    * `array_distinct` before the explode does it MAP-SIDE — a global
    * `.distinct()` after explode would shuffle every shingle row once for
    * nothing. */
  private[graft] def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(spark, dir))

  /** Same shingling over an arbitrary (possibly pre-filtered) documents
    * frame — filter-first callers shingle each document exactly once with
    * no shared-diamond materialization. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    shinglesOfToks(tokensOf(docs))

  /** (doc_id, toks) — the normalized token arrays every text-dedup
    * family member derives from. Split out (r22) so the agreement
    * audits can run ONE scan+normalize+split pass for all three legs;
    * for plain callers the projection collapses back into the scan and
    * the plan is unchanged. */
  private[graft] def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(normText(col("text")), " ").as("toks"))

  /** Shingling over a prepared (doc_id, toks) frame — see [[tokensOf]]. */
  private[graft] def shinglesOfToks(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), explode(expr(
      """CASE WHEN size(toks) >= 3
        |  THEN array_distinct(transform(sequence(0, size(toks)-3),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
        |  ELSE array() END""".stripMargin)).as("shingle"))

  /** Exact dedup: group on the md5 fingerprint of the normalized text,
    * keep min doc_id (the reference's UNIQUE-constraint dedup,
    * `webscraper-postgres.py:122`, applied to documents). Grouping on the
    * 32-byte fingerprint instead of the text itself keeps the shuffle
    * payload constant-size per document at 100 TB — the full text never
    * travels. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(normText(col("text"))).as("text_fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** q181: duplicate-cluster size spectrum — the histogram of q21's
    * exact-dup cluster sizes (how many singletons, pairs, k-plicates).
    * THE first chart a dedup pass is judged by (Lee et al. 2022's
    * "Deduplicating Training Data" fig. 1 shape): a fat tail here says
    * boilerplate replication; a spike at one size says a pipeline bug
    * replayed a batch. Two fingerprint-keyed aggregations — the second
    * over the CLUSTER table (≤ one row per distinct text); text never
    * shuffles (q21's md5-fingerprint economics). */
  def dupSpectrum(spark: SparkSession, dir: String): DataFrame =
    exact(spark, dir)
      .select(col("n_dups").as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))

  /** q183: cross-source duplication provenance — which sources copy
    * which: the q23 MinHash near-dup pairs joined to each side's
    * `source`, rolled up to an unordered source-pair matrix (the
    * CommonCrawl-style "who mirrors whom" report that decides whether
    * a source is dropped wholesale before per-doc dedup spends money
    * on it). Counts are exact; `share` is each cell over the total at
    * 6 dp. The pair set is a sliver, so the matrix costs q23 plus two
    * sliver-sized joins against the (doc_id, source) projection. */
  def sourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    // the cell total (an exact, order-free integer sum) is observed by
    // the matrix's checkpoint — no second agg job + 1-row
    // BroadcastExchange over the sliver the checkpoint just wrote. An
    // empty matrix emits no rows for any literal.
    val matrix = minhashLsh(spark, dir).select(col("a_id"), col("b_id"))
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_pairs"))
    val (pairs, tot) = Materialize.sliver(matrix)(coalesce(sum(col("n_pairs")), lit(1L)).as("t"))
    val t = tot.getLong(0)
    pairs.select(col("src_a"), col("src_b"), col("n_pairs"),
      round(col("n_pairs").cast("double") / lit(t), 6).as("share"))
  }

  /** q184: duplication × quality interaction — mean quality by
    * exact-dup cluster size bucket: the report that answers "are the
    * replicated documents the LOW-quality ones?" before choosing
    * keep-one-per-cluster vs quality-argmax dedup apply. Cluster sizes
    * come from q21's fingerprint groups (text never shuffles), quality
    * from the q29 functional quantized to 10⁻⁴ fixed-point longs so
    * per-bucket means are order-free exact. */
  def dupQualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val sized = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(normText(col("text"))).as("text_fp"))
      .join(exact(spark, dir).select(col("text_fp"), col("n_dups")), "text_fp")
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), expr("CAST(round(quality * 1e4) AS BIGINT)").as("qfp"))
    sized.join(q, "doc_id")
      .withColumn("bucket",
        when(col("n_dups") === 1, "unique")
          .when(col("n_dups") <= 4, "few").otherwise("many"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("qfp")).cast("double") / count(lit(1)) / 1e4, 6)
          .as("mean_quality"))
  }

  /** q182: cross-method near-dup agreement audit — precision/recall of
    * the sketch families (q23 MinHash-LSH, q24 SimHash) against q22's
    * EXACT Jaccard ≥ 0.5 pair set on the same corpus: the measurement
    * that calibrates banding/Hamming knobs before a 100 TB run commits
    * to a sketch (the q23/q24 specs pin per-fixture recall floors; this
    * op reports the corpus-level operating point). Pair sets are
    * slivers, so the audit costs three near-dup runs plus sliver-sized
    * semi-joins; the truth set persists across its three uses. */
  def dedupAgreement(spark: SparkSession, dir: String): DataFrame =
    agreementOf(spark, Tables.documents(spark, dir))

  /** q188: the q182 audit at 100-TB-feasible cost — the same
    * precision/recall measurement over a DETERMINISTIC md5-residue
    * document sample (`md5('ag:' || doc_id) residue % mod = 0`,
    * [[AgreementSampleMod]] ⇒ ~1/4 of the corpus; salt 'ag:'
    * decorrelates the sample from every other residue split in the
    * library). Doc-level sampling is the sound unit here: all three
    * pair sets are PAIRWISE predicates (exact jaccard ≥ t, shared
    * minhash band, simhash Hamming ≤ 3 — none depends on other
    * documents), so the sampled audit's pair sets are EXACTLY the full
    * audit's restricted to sampled-endpoint pairs (DedupSpec pins the
    * law), and precision/recall are measured on a uniform pair
    * subsample — an unbiased audit of the same operating point. The
    * point: q22's exact-jaccard truth leg is the documented
    * scratch-disk wall at sf100 (SURVEY §8.3 ENOSPC arithmetic);
    * sampling at mod=4 prices the truth leg at ~sf25 — under the
    * measured sf30 point — so the cross-method audit can run AT the
    * scale the deployment paths (q23/q24) are probed at. */
  def dedupAgreementSampled(spark: SparkSession, dir: String,
                            mod: Int = AgreementSampleMod): DataFrame =
    agreementOf(spark, sampledDocs(spark, dir, mod))

  /** Audit sample rate: 1/mod of documents. mod=4 prices the sf100
    * exact-truth leg at ~sf25 equivalent — inside the measured sf30
    * feasibility point on this host's scratch disk. */
  private[graft] val AgreementSampleMod = 4

  /** The deterministic audit sample: md5 residue on the salted doc id —
    * re-runnable, engine-portable (the oracle replays the identical
    * residue), and independent of every other md5 split in the library
    * (different salt ⇒ different hash bits). mod=1 keeps everything. */
  private[graft] def sampledDocs(spark: SparkSession, dir: String,
                                 mod: Int): DataFrame = {
    require(mod >= 1, "sample modulus must be >= 1")
    Tables.documents(spark, dir).filter(expr(
      s"""CAST(conv(substring(md5(concat('ag:', CAST(doc_id AS STRING))), 1, 8),
         |  16, 10) AS BIGINT) % $mod = 0""".stripMargin))
  }

  private def agreementOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    // ONE corpus scan+normalize+tokenize pass feeds ALL THREE legs (r22,
    // VERDICT r21 item 6): the persisted token-array frame is read twice
    // (shingle-index build; simhash tokenizer) and the shingle index
    // built from it serves the exact-truth leg AND the minhash leg (the
    // r21 sharing). Before r22 the simhash leg re-scanned and
    // re-normalized the corpus on its own — at 100 TB, a third full
    // regexp_replace+split pass per audit invocation.
    val toks = tokensOf(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val sh = shinglesOfToks(toks).persist(StorageLevel.MEMORY_AND_DISK)
    val truth = jaccardNearDupOn(sh).select(col("a_id"), col("b_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the truth count enters as a LITERAL: one count job over the pair
    // sliver (which also warms its cache for the two semi-joins below)
    // instead of a 1-row BroadcastExchange + crossJoin in the final plan
    val nTrue = truth.count()
    def leg(name: String, pairs0: DataFrame): DataFrame = {
      // n_pairs is observed by the leg's checkpoint — no second agg +
      // broadcast crossJoin over the sliver the checkpoint just wrote
      val (pairs, stats) = Materialize.sliver(pairs0.select(col("a_id"), col("b_id")))(
        count(lit(1)).as("n"))
      val nPairs = stats.getLong(0)
      pairs.join(truth, Seq("a_id", "b_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(name).as("method"), lit(nPairs).as("n_pairs"), col("n_hit"))
    }
    // degenerate-denominator guard: a sampled audit (q188) can leave a
    // leg with zero pairs; Spark's double 0/0 is NaN while the oracle
    // engine NULLs on division by zero — emit null on both engines
    val out = leg("minhash", minhashLshOn(sh))
      .unionAll(leg("simhash", simhashNearDupOnToks(toks)))
      .select(col("method"), col("n_pairs"), lit(nTrue).as("n_true"), col("n_hit"),
        when(col("n_pairs") > 0,
          round(col("n_hit").cast("double") / col("n_pairs"), 6)).as("prec"),
        when(lit(nTrue) > 0,
          round(col("n_hit").cast("double") / lit(nTrue), 6)).as("rec"))
      .localCheckpoint(true)
    truth.unpersist(false)
    sh.unpersist(false)
    toks.unpersist(false)
    out
  }

  /** Exact-jaccard scoring of a candidate (a_id, b_id) pair set: each
    * doc's shingle set collapses once to a SORTED array of 60-bit
    * md5-derived hashes (one shuffle), candidates join to the two arrays,
    * and |A∩B| comes from the codegen'd sorted_intersect_count merge —
    * O(|a|+|b|) per pair with no row blowup, where the relational form
    * (explode + equi-join + count) shuffles |a|+|b| ROWS per candidate
    * pair. Hash collisions are ~n²/2^60 (and the exact-string DuckDB
    * oracle would catch one). Shared by the exact (q22) and LSH (q23)
    * variants — only candidate *enumeration* differs; scores are exact. */
  /** Shared verify-stage scaffolding: materialize the candidate pair
    * set, restrict the shingle index to candidate docs (filter-first),
    * and collapse each doc to its sorted 60-bit hash array. Returns the
    * materialized pairs, the persisted array index (caller unpersists),
    * and the candidate-doc count that sizes the broadcast guards. */
  private def candidateArrays(cand: DataFrame,
                              sh: DataFrame): (DataFrame, DataFrame, Long) = {
    graft.functions.VectorExprs.register(sh.sparkSession)
    // materialize the (small) candidate pair set once — it feeds the join
    // AND the filter-first doc restriction below, and for q22 it hangs off
    // an expensive prefix self-join we must not replay per branch
    val pairs = cand.localCheckpoint(true)
    // filter-first: only docs that appear in some candidate pair need
    // their sorted hash array. Candidate docs are a small fraction of the
    // corpus (near-dup rate, not corpus size), so the collect_list
    // aggregate — the expensive step here — runs over a sliver of the
    // shingle index instead of all of it. The restriction broadcasts.
    val candDocs = pairs.select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    // one cheap job over the materialized pair set sizes BOTH broadcast
    // decisions exactly; a pathological corpus / low threshold where the
    // candidate set approaches corpus size degrades to shuffled joins
    // instead of blowing the broadcast limit
    val nCandDocs = candDocs.count()
    val restrict =
      if (nCandDocs <= MaxBroadcastCandDocs) broadcast(candDocs) else candDocs
    val arrays = sh.join(restrict, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("arr"), count(lit(1)).as("sz"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    (pairs, arrays, nCandDocs)
  }

  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame = {
    val (pairs, arrays, nCandDocs) = candidateArrays(cand, sh)
    // the array index is doc-count-sized; the candidate PAIR set is the
    // big side (it grows with near-dup density, quadratically in cluster
    // sizes). Broadcasting the index keeps the pair set from shuffling
    // through two sort-merge joins — the default 10 MB autoBroadcast
    // threshold refuses exactly where it matters most.
    val hintA = arrays.select(col("doc_id").as("a_id"), col("arr").as("arr_a"),
      col("sz").as("sz_a"))
    val hintB = arrays.select(col("doc_id").as("b_id"), col("arr").as("arr_b"),
      col("sz").as("sz_b"))
    // eager localCheckpoint materializes the (tiny) verified pair set so the
    // cached shingle-array index can be released before returning — a
    // long-lived session (the 100 TB curation-service shape) must not leak
    // one corpus-sized cache per invocation
    val out = pairs
      .join(if (nCandDocs <= MaxBroadcastArrayDocs) broadcast(hintA) else hintA, "a_id")
      .join(if (nCandDocs <= MaxBroadcastArrayDocs) broadcast(hintB) else hintB, "b_id")
      .withColumn("inter", expr("sorted_intersect_count(arr_a, arr_b)"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .localCheckpoint(true)
    arrays.unpersist(false)
    out
  }

  /** Exact n-gram (3-shingle) Jaccard near-dup pairs, j ≥ `threshold`,
    * via prefix filtering (Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW'07): order each doc's shingles by ascending
    * global document frequency and index only the first
    * sz − ⌈t·sz⌉ + 1 — if j(A,B) ≥ t the two prefixes must share an
    * element (the first intersection element in global order sits within
    * both), so enumeration over the prefix index is EXACT while
    * heavy-hitter shingles (which rank last) structurally never drive
    * the candidate join. A length filter (j ≥ t ⇒ min size ≥ t·max
    * size) prunes further. Verification scores candidates over ALL
    * shingles; the oracle is the plain uncapped inverted-index SQL,
    * proving equivalence on every run.
    *
    * Knobs (SURVEY §8.1): higher `threshold` shrinks the prefix index
    * (length 1 + (1−t)·sz per doc) and tightens both filters — candidate
    * count falls superlinearly in t. The float bounds carry a 1e-9
    * epsilon in the CONSERVATIVE direction (longer prefix, weaker
    * prune), so rounding can only admit an extra candidate for the exact
    * verifier to reject, never drop a true pair; at the default t = 0.5
    * every bound is exactly the ⌊sz/2⌋+1 / 2× / (sa+sb)/3 form. */
  def jaccardNearDup(spark: SparkSession, dir: String,
                     threshold: Double = 0.5): DataFrame =
    jaccardNearDupOf(Tables.documents(spark, dir), threshold)

  /** q22 over an arbitrary (possibly pre-filtered) documents frame —
    * the seam the sampled audit (q188) runs the exact truth leg
    * through. The output is exactly "all pairs with jaccard ≥ t among
    * the input docs": candidate enumeration's df-ranked global order
    * shifts with the input corpus, but the prefix/positional filters
    * are lossless for ANY consistent order and verification is exact,
    * so restricting the input restricts the OUTPUT exactly. */
  private[graft] def jaccardNearDupOf(docs: DataFrame,
                                      threshold: Double = 0.5): DataFrame = {
    // the shingle index feeds candidate enumeration AND verification —
    // persist it once instead of re-exploding the corpus per use (the
    // standard candidate/verify diamond; spills to disk at scale)
    val sh = shinglesOf(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val out = jaccardNearDupOn(sh, threshold) // eager — safe to release sh
    sh.unpersist(false)
    out
  }

  /** q22 over a PRE-BUILT (and caller-persisted) shingle index — the
    * seam that lets the agreement audits (q182/q188) share ONE corpus
    * shingle pass between the exact-truth leg and the minhash leg
    * instead of each building an identical index (r21). Returns eagerly
    * materialized; the caller owns `sh`'s lifecycle. */
  private def jaccardNearDupOn(sh: DataFrame,
                               threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val t = threshold
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    // shuffle_hash beats the default sort-merge here: both sides shuffle
    // on shingle anyway, and hashing the (vocab-sized) df side skips two
    // full sorts. The build side stays bounded per partition as long as
    // partition count scales with the corpus (the prefix SELF-join below
    // deliberately keeps SMJ — its two sides share one exchange+sort via
    // ReuseExchange, which a hash build would break; measured 2× slower).
    val ranked = sh.join(dfreq.hint("shuffle_hash"), "shingle")
      .withColumn("rk", row_number().over(w.orderBy(col("df"), col("shingle"))))
      .withColumn("sz", count(lit(1)).over(w))
    // self-joined below; the df-join + per-doc rank window would otherwise
    // run twice (broadcast join defeats exchange reuse)
    val pref = ranked
      .filter(col("rk") <= col("sz") - expr(s"CAST(ceil(sz * $t - 1e-9) AS BIGINT)") + 1)
      .select(col("doc_id"), col("shingle"), col("sz"), col("rk"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // positional filter (PPJoin): ranks follow ONE global (df, shingle)
    // order, so the first shared prefix shingle attains min(rk) on both
    // sides simultaneously, and total overlap ≤ 1 + min(remaining
    // suffix lengths). j ≥ t ⟺ overlap ≥ t/(1+t)·(sz_a+sz_b), so pairs
    // whose bound can't reach that are pruned EXACTLY.
    val cand = pref.as("a").join(pref.as("b"), Seq("shingle"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .filter(least(col("a.sz"), col("b.sz")).cast("double")
        >= greatest(col("a.sz"), col("b.sz")) * t - 1e-9)
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(min(col("a.rk")).as("ra0"), min(col("b.rk")).as("rb0"))
      .filter((lit(1) + least(col("sz_a") - col("ra0"), col("sz_b") - col("rb0"))).cast("double")
        >= (col("sz_a") + col("sz_b")) * (t / (1 + t)) - 1e-9)
      .select(col("a_id"), col("b_id"))
    // verifyJaccard returns eagerly materialized → the prefix index is
    // no longer reachable; release it now (sh belongs to the caller)
    val out = verifyJaccard(cand, sh, t)
    pref.unpersist(false)
    out
  }

  /** q119: containment join — DIRECTED near-dup: a is τ-contained in b
    * iff |Sh(a) ∩ Sh(b)| / |Sh(a)| ≥ τ (Chaudhuri, Ganti, Kaushik, "A
    * Primitive Operator for Similarity Joins in Data Cleaning",
    * ICDE'06 — the overlap-constraint SSJoin). This is the asymmetric
    * case symmetric resemblance (q22) structurally misses: a short doc
    * quoted whole inside a long one has high containment but low
    * Jaccard, the quote/boilerplate-absorption case a curation pipeline
    * must catch separately.
    *
    * Candidate generation is one-sided prefix filtering: the required
    * overlap o = ⌈τ·sz_a⌉ depends only on the PROBE doc a, so a probes
    * with its first sz_a − o + 1 shingles in global (df, shingle) order
    * — if the intersection has ≥ o elements, a's prefix must contain
    * one (pigeonhole) — while the INDEX side carries every shingle, the
    * same one-sided-exactness argument as q91's delta-vs-corpus cap.
    * Heavy-hitter shingles rank last and never enter a probe prefix, so
    * no posting list drives a blowup. A length filter (sz_b ≥ τ·sz_a)
    * and the PPJoin positional bound (overlap ≤ 1 + min remaining
    * suffix) prune further, both with conservative epsilons.
    * Verification is exact over the sorted hash arrays; the oracle is
    * the uncapped inverted-index SQL, proving the filters lose nothing. */
  def containmentJoin(spark: SparkSession, dir: String,
                      threshold: Double = 0.8): DataFrame =
    containmentOf(shingles(spark, dir), threshold)

  private[graft] def containmentOf(shingleFrame: DataFrame,
                                   threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val t = threshold
    val sh = shingleFrame.persist(StorageLevel.MEMORY_AND_DISK)
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val ranked = sh.join(dfreq.hint("shuffle_hash"), "shingle")
      .withColumn("rk", row_number().over(w.orderBy(col("df"), col("shingle"))))
      .withColumn("sz", count(lit(1)).over(w))
      // probe prefixes and the full index are both slices of this one
      // frame — persist so the df-join + rank window runs once
      .persist(StorageLevel.MEMORY_AND_DISK)
    // probe side: prefix of size sz − ⌈τ·sz⌉ + 1 (conservative epsilon:
    // a longer prefix can only ADD candidates for the verifier to reject)
    val probe = ranked.filter(
      col("rk") <= col("sz") - expr(s"CAST(ceil(sz * $t - 1e-9) AS BIGINT)") + 1)
    val cand = probe.as("a").join(ranked.as("b"), Seq("shingle"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .filter(col("b.sz").cast("double") >= col("a.sz") * t - 1e-9)
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(min(col("a.rk")).as("ra0"), min(col("b.rk")).as("rb0"))
      .filter((lit(1) + least(col("sz_a") - col("ra0"), col("sz_b") - col("rb0"))).cast("double")
        >= col("sz_a") * t - 1e-9)
      .select(col("a_id"), col("b_id"))
    val out = verifyContainment(cand, sh, t)
    sh.unpersist(false)
    ranked.unpersist(false)
    out
  }

  /** Exact containment scoring of candidate (a_id, b_id) pairs — the
    * verifyJaccard pattern with the asymmetric score inter/sz_a. */
  private def verifyContainment(cand: DataFrame, sh: DataFrame,
                                threshold: Double): DataFrame = {
    val (pairs, arrays, nCandDocs) = candidateArrays(cand, sh)
    val hintA = arrays.select(col("doc_id").as("a_id"), col("arr").as("arr_a"),
      col("sz").as("sz_a"))
    val hintB = arrays.select(col("doc_id").as("b_id"), col("arr").as("arr_b"))
    val out = pairs
      .join(if (nCandDocs <= MaxBroadcastArrayDocs) broadcast(hintA) else hintA, "a_id")
      .join(if (nCandDocs <= MaxBroadcastArrayDocs) broadcast(hintB) else hintB, "b_id")
      .withColumn("containment",
        expr("sorted_intersect_count(arr_a, arr_b)").cast("double") / col("sz_a"))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("containment"))
      .localCheckpoint(true)
    arrays.unpersist(false)
    out
  }

  private[graft] val NumHashes = 16
  private[graft] val BandRows = 2 // 8 bands × 2 rows: P(candidate|j=0.5) ≈ 0.90

  /** Carter-Wegman universal hash family over a 31-bit Mersenne-prime
    * field: h_i(x) = (a_i·x + b_i) mod (2^31 − 1). Products stay under
    * 2^62, so BOTH engines evaluate in exact 64-bit integer arithmetic —
    * the family is engine-portable by construction. The (a_i, b_i)
    * constants are fixed LCG-derived literals so the DuckDB oracle can
    * embed the identical numbers. */
  private val MersenneP = 2147483647L
  private[graft] def cwConstants(i: Int): (Long, Long) = {
    val a = (1103515245L * (i + 1) + 12345L) % MersenneP
    val b = (22695477L * (i + 1) + 1L) % MersenneP
    (if (a == 0) 1L else a, b)
  }

  /** MinHash signatures: one row per doc, h0..h15 = min over shingles of
    * CW-hash_i(md5-int of the shingle). ONE md5 per shingle row — the
    * per-permutation work is two integer ops, not another full-text hash
    * (the 16× md5 form paid the dominant cost of signature building at
    * corpus scale for no statistical gain; a universal family is the
    * textbook MinHash construction, Broder 1997). md5 keeps the base
    * hash engine-portable, so DuckDB derives bit-identical signatures —
    * what makes q23 oracle-checkable. A single shuffle (groupBy doc_id)
    * computes all 16 mins with map-side partial aggregation — this is
    * the 100 TB path where the exact inverted index blows up. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    signaturesOf(shingles(spark, dir))

  private[graft] def signaturesOf(sh: DataFrame, numHashes: Int = NumHashes): DataFrame = {
    val withBase = sh.withColumn("hv",
      expr(s"CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT) % $MersenneP"))
    val aggs = (0 until numHashes).map { s =>
      val (a, b) = cwConstants(s)
      min((lit(a) * col("hv") + lit(b)) % MersenneP).as(s"h$s")
    }
    withBase.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash-LSH near-dup: band the signatures (band hash = md5 of the
    * band's rows), bucket-join on (band, band_hash), then verify
    * candidates with EXACT jaccard and keep j ≥ `threshold`. Output ⊆
    * the exact q22 result (approximate recall, perfect precision after
    * verification) — asserted in DedupSpec and against the DuckDB oracle
    * implementing this same pipeline.
    *
    * Knobs (SURVEY §8.1): with b = numHashes/bandRows bands of r =
    * bandRows rows, P(candidate | j) = 1 − (1 − j^r)^b — the defaults
    * (8 bands × 2 rows) give ≈ 0.90 at j = 0.5; more bands raise recall
    * and candidate volume, longer bands sharpen the threshold. Costs
    * scale as numHashes md5-mins per shingle (one shuffle regardless)
    * and b bucket rows per doc. */
  def minhashLsh(spark: SparkSession, dir: String,
                 numHashes: Int = NumHashes, bandRows: Int = BandRows,
                 threshold: Double = 0.5): DataFrame =
    minhashLshOf(Tables.documents(spark, dir), numHashes, bandRows, threshold)

  /** q23 over an arbitrary documents frame (the q188 seam). Signatures
    * and band hashes are per-doc md5 functions — corpus-independent —
    * so restricting the input restricts candidates (and therefore the
    * verified output) exactly. */
  private[graft] def minhashLshOf(docs: DataFrame,
                                  numHashes: Int = NumHashes,
                                  bandRows: Int = BandRows,
                                  threshold: Double = 0.5): DataFrame = {
    val sh = shinglesOf(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val out = minhashLshOn(sh, numHashes, bandRows, threshold) // eager
    sh.unpersist(false)
    out
  }

  /** q23 over a PRE-BUILT (caller-persisted) shingle index — the q182/
    * q188 sharing seam (see [[jaccardNearDupOn]]). Eager output; the
    * caller owns `sh`'s lifecycle. */
  private def minhashLshOn(sh: DataFrame,
                           numHashes: Int = NumHashes,
                           bandRows: Int = BandRows,
                           threshold: Double = 0.5): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must split evenly into bands")
    // the band-bucket self-join reads sig from both sides and one side
    // broadcasts, so the numHashes-min signature aggregate would run
    // twice; one short row per doc is the cheapest thing in this plan to
    // cache
    val sig = signaturesOf(sh, numHashes).persist(StorageLevel.MEMORY_AND_DISK)
    val cand = bandCandidates(sig, numHashes, bandRows)
    val out = verifyJaccard(cand, sh, threshold) // eager — safe to release inputs
    sig.unpersist(false)
    out
  }

  /** Banded LSH candidate pairs over a (doc_id, h0..h{n-1}) signature
    * frame: band hash = md5 of each band's rows (cast to string — both
    * engines render a BIGINT as plain decimal digits, keeping the hash
    * portable), bucket self-join on (band, bh), canonical a < b,
    * distinct. Shared by q23 (which then verifies with EXACT jaccard
    * against the shingle sets) and q149's state-only sweep (which
    * verifies with the signature ESTIMATE — the text is gone). */
  private[graft] def bandCandidates(sig: DataFrame, numHashes: Int = NumHashes,
                                    bandRows: Int = BandRows): DataFrame = {
    val bandCols = (0 until numHashes / bandRows).map { b =>
      val cols = (0 until bandRows).map(r => col(s"h${b * bandRows + r}").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("bh"))
    }
    val buckets = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bh"))
    buckets.as("x").join(buckets.as("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** State-only near-dup sweep over a signature frame: banded candidates
    * verified by the SIGNATURE estimate — match_cnt = |{i : h_i(a) =
    * h_i(b)}|, the unbiased Broder estimator of jaccard scaled by
    * numHashes (E[match_cnt] = j·numHashes), kept at match_cnt ≥
    * `minMatch` (8/16 ≈ τ = 0.5). This is the verify step a STREAMING
    * deployment can afford: the signature store is all that survives
    * ingest (q149 discards text after the stateful min-fold), so exact
    * shingle jaccard is unavailable by design — precision is traded for
    * a verify that touches nothing but the two 16-long signatures.
    * Exactly the q23 plan minus the shingle re-join: the candidate
    * stage's cost model is unchanged, and the verify join moves
    * signature rows (doc-count-sized), never shingles. */
  private[graft] def estimatedPairsOf(sig: DataFrame, numHashes: Int = NumHashes,
                                      bandRows: Int = BandRows,
                                      minMatch: Int = NumHashes / 2): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must split evenly into bands")
    def side(p: String) = sig.select(
      col("doc_id").as(s"${p}_id") +:
        (0 until numHashes).map(i => col(s"h$i").as(s"${p}h$i")): _*)
    val matchCnt = (0 until numHashes)
      .map(i => when(col(s"ah$i") === col(s"bh$i"), 1).otherwise(0))
      .reduce(_ + _)
    bandCandidates(sig, numHashes, bandRows)
      .join(side("a"), "a_id")
      .join(side("b"), "b_id")
      .withColumn("match_cnt", matchCnt.cast("int"))
      .filter(col("match_cnt") >= minMatch)
      .select(col("a_id"), col("b_id"), col("match_cnt"))
  }

  private[graft] val BbitBits = 4

  /** q153: b-bit minwise hashing audit (Li & König, "b-Bit Minwise
    * Hashing", WWW 2010) — the storage-compression member of the
    * signature family. Keeping only the lowest b bits of each of the k
    * minhash values shrinks the per-doc verify payload 64/b× (b = 4:
    * 16×4 bits = 8 B against the full store's 128 B — what a 10¹⁰-doc
    * signature store like q149's pays per doc), at the price of random
    * b-bit collisions: a non-matching permutation still agrees with
    * probability ≈ 1/2^b, so the unbiased estimator inverts the
    * mixture, ĵ_b = (m_b/k − 1/2^b)/(1 − 1/2^b). This query is the
    * AUDIT a deployment runs before flipping to the compressed store:
    * for every banded candidate pair it reports the full-width match
    * count/estimate next to the b-bit ones, quantifying the estimator
    * degradation on the actual corpus (Li–König §4: variance grows by
    * 1/(1−1/2^b)², so k grows ~14% at b = 4 for equal error — measured
    * here rather than assumed).
    *
    * Determinism: everything through m_b is exact integer arithmetic on
    * the CW signatures both engines derive bit-identically; the
    * estimators are dyadic-rational expressions with ONE final IEEE
    * division each, so the 6-dp rounding is cosmetic, not load-bearing.
    * Scale shape: identical to q149's sweep — banding + a signature-rows
    * join; the b-bit columns are two integer ops on the mins already in
    * hand (a deployment persists the signature store once; the spec-sf
    * recompute is the cheap side of the plan). */
  def bbitMinhashAudit(spark: SparkSession, dir: String,
                       numHashes: Int = NumHashes, bandRows: Int = BandRows,
                       b: Int = BbitBits): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must split evenly into bands")
    require(b > 0 && b < 31, "b must be a positive bit width below the hash width")
    val width = 1L << b
    val cb = 1.0 / width
    val sig = signaturesOf(shingles(spark, dir), numHashes)
    def side(p: String) = sig.select(
      col("doc_id").as(s"${p}_id") +:
        (0 until numHashes).map(i => col(s"h$i").as(s"${p}h$i")): _*)
    val mFull = (0 until numHashes)
      .map(i => when(col(s"ah$i") === col(s"bh$i"), 1).otherwise(0)).reduce(_ + _)
    val mB = (0 until numHashes)
      .map(i => when(col(s"ah$i") % width === col(s"bh$i") % width, 1).otherwise(0))
      .reduce(_ + _)
    bandCandidates(sig, numHashes, bandRows)
      .join(side("a"), "a_id")
      .join(side("b"), "b_id")
      .withColumn("m_full", mFull.cast("int"))
      .withColumn("m_b", mB.cast("int"))
      .withColumn("j_full", round(col("m_full") / lit(numHashes.toDouble), 6))
      .withColumn("j_b",
        round((col("m_b") / lit(numHashes.toDouble) - lit(cb)) / lit(1.0 - cb), 6))
      .select(col("a_id"), col("b_id"), col("m_full"), col("m_b"),
        col("j_full"), col("j_b"))
  }

  /** SimHash near-dup, Hamming ≤ 3 over 64-bit signatures — semantics:
    * ALL doc pairs at Hamming distance ≤ 3 (the oracle states exactly
    * that, as a brute-force all-pairs SQL over sf0.01).
    *
    * The plan is the scale path and provably equivalent:
    *  1. Collapse to DISTINCT signatures first — duplicate-heavy corpora
    *     (this one: 5000 docs / 3905 sigs, one sig × 248 docs) otherwise
    *     pay k² of the largest cluster in the candidate join.
    *  2. Band the distinct sigs by the C(8,4)=70 *quads* of 8-bit
    *     chunks (32-bit band values). Pigeonhole: ≤3 differing bits touch
    *     ≤3 chunks, leaving ≥5 clean ⇒ ≥C(5,4)=5 clean quads — exact
    *     recall for Hamming ≤ 3. Quads over triples is a measured call:
    *     natural-language sigs are heavily correlated, and the extra 8
    *     bits of band agreement cut candidate pairs ~an order of
    *     magnitude for +25% band rows.
    *  3. Verify Hamming on candidate sig pairs, then expand sig pairs
    *     back to doc pairs (identical-sig groups are Hamming 0 by
    *     definition). Equivalence with the brute-force oracle is exactly
    *     the recall guarantee in (2); also asserted in DedupSpec.
    *
    * Signatures are bit-packed BIGINTs: band values are shift/mask
    * integer ops and the Hamming check is one `bit_count(xor)` — the
    * string form paid 128 substring calls per candidate pair and
    * shuffled 64-byte keys where 8 bytes carry the same information. */
  def simhashNearDup(spark: SparkSession, dir: String,
                     maxHamming: Int = 3): DataFrame =
    simhashNearDupOf(Tables.documents(spark, dir), maxHamming)

  /** q24 over an arbitrary documents frame (the q188 seam): signatures
    * are per-doc token-hash sums and the Hamming predicate is pairwise,
    * so restriction is exact. */
  private[graft] def simhashNearDupOf(docs: DataFrame,
                                      maxHamming: Int = 3): DataFrame =
    hammingBandPairs(simhashSignaturesOf(docs), chunkBits = 8, maxHamming)

  /** q24 over a prepared (caller-persisted) token frame — the r22
    * agreement-audit sharing seam (see [[tokensOf]]). */
  private def simhashNearDupOnToks(toks: DataFrame,
                                   maxHamming: Int = 3): DataFrame =
    hammingBandPairs(simhashSignaturesOfToks(toks), chunkBits = 8, maxHamming)

  /** The 14 quads of the complement-closed optimal C(8,4,3) covering
    * design over the 8 chunk indices (the AG(3,2) plane family): every
    * 3-subset of {0..7} is contained in some block (spec-verified
    * exhaustively), and the set is closed under complement — so for any
    * ≤3-dirty-chunk pair the dirty set lies inside some block T, whose
    * complement (also a block here) is a fully-CLEAN banded quad. Exact
    * recall at Hamming ≤ 3 with 14 bands instead of C(8,4) = 70. */
  private[graft] val CoveringQuads: Seq[(Int, Int, Int, Int)] = Seq(
    (0, 1, 2, 3), (0, 1, 4, 5), (0, 1, 6, 7), (0, 2, 4, 6), (0, 2, 5, 7),
    (0, 3, 4, 7), (0, 3, 5, 6), (1, 2, 4, 7), (1, 2, 5, 6), (1, 3, 4, 6),
    (1, 3, 5, 7), (2, 3, 4, 5), (2, 3, 6, 7), (4, 5, 6, 7))

  /** The banded Hamming-join machinery shared by q24 (64-bit SimHash,
    * 8-bit chunks) and q148 (56-bit media dHash, 7-bit chunks): group
    * docs by DISTINCT signature, band the sigs by quads of
    * `chunkBits`-bit chunks ([[CoveringQuads]] at the shipped radius 3;
    * all C(8,4)=70 at radius 4), verify `bit_count(xor)` on candidate
    * sig pairs, expand back to doc pairs, and add the identical-sig
    * within-group pairs at Hamming 0. Exactness is the chunk-count
    * pigeonhole and does not depend on the chunk WIDTH: ≤ maxHamming ≤
    * 4 dirty bits touch ≤ 4 chunks, leaving ≥ 4 clean ⇒ some quad
    * agrees. Input `sig` is (doc_id, sig BIGINT) with the signature
    * occupying the low 8·chunkBits bits. */
  private[graft] def hammingBandPairs(sig: DataFrame, chunkBits: Int,
                                      maxHamming: Int): DataFrame = {
    // quad banding over 8 chunks is exact while ≥ 4 chunks stay clean:
    // pigeonhole needs C(8 − maxHamming, 4) ≥ 1 ⇔ maxHamming ≤ 4
    require(maxHamming >= 0 && maxHamming <= 4,
      "quad banding is exact only for Hamming radius <= 4")
    require(chunkBits >= 1 && chunkBits <= 8, "band values must fit 32 bits")
    // tiny (≤ #distinct signatures) but feeds four plan branches — without
    // persist the whole per-doc signature pipeline recomputes per branch
    val groups = sig.groupBy(col("sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def chunk(c: Int): Column =
      shiftright(col("sig"), c * chunkBits).bitwiseAND(lit((1L << chunkBits) - 1))
    // Band selection (r21): exact recall needs, for EVERY possible
    // ≤maxHamming-element dirty-chunk set D, some banded quad disjoint
    // from D — i.e. the quad COMPLEMENTS must cover every |D|-subset of
    // the 8 chunks (a covering design). For maxHamming ≤ 3 the optimal
    // 14-block C(8,4,3) design [[CoveringQuads]] suffices instead of
    // all C(8,4) = 70 quads — 5× fewer bucket rows per signature into
    // the band self-join with a byte-identical result (the bit_count
    // verify is unchanged; DedupSpec's brute-force differential and the
    // exhaustive covering law gate it). maxHamming = 4 needs every
    // 4-subset covered, which only all 70 quads do.
    val quads = (if (maxHamming <= 3) CoveringQuads
    else for {
      i <- 0 until 8; j <- i + 1 until 8; k <- j + 1 until 8; l <- k + 1 until 8
    } yield (i, j, k, l)).zipWithIndex
    val bandCols = quads.map { case ((i, j, k, l), b) =>
      struct(lit(b).as("band"),
        shiftleft(chunk(i), 3 * chunkBits).bitwiseOR(shiftleft(chunk(j), 2 * chunkBits))
          .bitwiseOR(shiftleft(chunk(k), chunkBits)).bitwiseOR(chunk(l)).as("bv"))
    }
    val buckets = groups.select(col("sig"), explode(array(bandCols: _*)).as("bk"))
      .select(col("sig"), col("bk.band"), col("bk.bv"))
    val sigPairs = buckets.as("x").join(buckets.as("y"), Seq("band", "bv"))
      .filter(col("x.sig") < col("y.sig"))
      .select(col("x.sig").as("sa"), col("y.sig").as("sb"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS INT)"))
      .filter(col("hamming") <= maxHamming)
    val cross = sigPairs
      .join(groups.select(col("sig").as("sa"), col("ids").as("ids_a")), "sa")
      .join(groups.select(col("sig").as("sb"), col("ids").as("ids_b")), "sb")
      .select(col("hamming"), explode(col("ids_a")).as("x_id"), col("ids_b"))
      .select(col("hamming"), col("x_id"), explode(col("ids_b")).as("y_id"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"), col("hamming"))
    // identical-sig doc pairs (Hamming 0); k² only within true dup clusters
    val within = groups.filter(size(col("ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ids)-2),
          |  i -> transform(sequence(i+1, size(ids)-1),
          |         j -> struct(ids[i] AS a_id, ids[j] AS b_id))))""".stripMargin)).as("p"))
      .select(col("p.a_id"), col("p.b_id"), lit(0).cast("int").as("hamming"))
    // materialize the pair set eagerly, then release the signature-group
    // cache — same leak-free lifecycle as the jaccard family
    val out = cross.unionByName(within).localCheckpoint(true)
    groups.unpersist(false)
    out
  }

  /** doc_id → 64-bit simhash of its token set, bit-packed into a BIGINT
    * (bit i of the long = sign of per-bit sum i). Per-token bits come
    * from the md5 hex digits (bit i = bit (i mod 4) of hex digit
    * (i div 4)) — engine-portable, so the DuckDB oracle derives
    * bit-for-bit identical signatures (it keeps the '0'/'1'-string form;
    * the bijection bit i ↔ string position i+1 makes Hamming distances
    * equal). The per-bit ±1 sums accumulate as 64 NATIVE sum() columns:
    * partial aggregation still merges 64-long buffers map-side (one
    * buffer per doc × partition on the shuffle, not one row per token),
    * but the whole aggregate stays inside whole-stage codegen — measured
    * ~16% faster than the typed-Aggregator form, whose ObjectHashAggregate
    * pays per-row object ser/de. The fixed compile-time dimension is what
    * makes the column expansion possible; VectorSumAgg remains the right
    * tool where the dimension is data-driven (label centroids). */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    simhashSignaturesOf(Tables.documents(spark, dir))

  private[graft] def simhashSignaturesOf(docs: DataFrame): DataFrame =
    simhashSignaturesOfToks(tokensOf(docs))

  /** The q24 signature build over a prepared (doc_id, toks) frame — see
    * [[tokensOf]]; for plain callers the projections collapse and the
    * plan is unchanged. */
  private def simhashSignaturesOfToks(toks: DataFrame): DataFrame = {
    val docTok = toks
      // per-doc distinct tokens via array_distinct — map-side, no shuffle
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("tok"))
      .filter(col("tok") =!= "")
    // per-token bit vectors are a function of the VOCABULARY, not of token
    // instances: compute md5→bits once per distinct token (vocab ≪
    // instances in any natural corpus) and join back — AQE broadcasts the
    // vocab side while it fits, falls back to a hash join when it doesn't.
    // (md5 once per row, hex digits once per digit: lambdas get no
    // common-subexpression elimination, so md5 inside the 64-iteration
    // transform would run 64× per row.)
    val vocabBits = docTok.select(col("tok")).distinct()
      .withColumn("h", md5(col("tok")))
      .withColumn("dv", expr(
        "transform(sequence(0, 15), d -> instr('0123456789abcdef', substring(h, d + 1, 1)) - 1)"))
      .select(col("tok"), expr(
        """flatten(transform(dv, v ->
          |  transform(sequence(0, 3), b ->
          |    CASE WHEN (shiftright(v, b) & 1) = 1 THEN 1L ELSE -1L END)))""".stripMargin)
        .as("bits"))
    val sums = (0 until 64).map(i =>
      sum(element_at(col("bits"), i + 1)).as(s"s$i"))
    docTok.join(vocabBits, "tok")
      .groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      // pack: Σ 2^i over nonnegative sums. Each term is a distinct power
      // of two (bit 63 = Long.MinValue), so every partial sum stays in
      // range — no ANSI overflow possible.
      .select(col("doc_id"), expr(
        (0 until 64).map(i => s"CASE WHEN s$i >= 0 THEN shiftleft(1L, $i) ELSE 0L END")
          .mkString(" + ")).as("sig"))
  }

  /** q91: incremental (delta-vs-corpus) dedup — THE operational mode at
    * 100 TB: a new crawl snapshot arrives and must be deduped against
    * the standing corpus WITHOUT re-scoring corpus-internal pairs. The
    * delta here is the md5(doc_id) ≥ 'c0' slice (~25%, the same
    * content-independent split family as q50); the corpus is the rest.
    *
    * Each delta doc gets a status:
    *   - 'exact_dup': its normalized-text fingerprint already exists in
    *     the corpus (one semi-join on the 16-byte fingerprint — the
    *     full text never shuffles);
    *   - 'near_dup': some corpus doc shares jaccard ≥ `threshold`
    *     (prefix-filtered candidate join restricted to delta×corpus
    *     pairs — corpus×corpus candidates are never enumerated, which
    *     is exactly the saving: candidate work scales with |delta|·df,
    *     not |corpus|²);
    *   - 'kept': neither.
    *
    * Exactness carries over from q22 unchanged: the Bayardo prefix
    * bound is a property of the PAIR, so indexing corpus prefixes and
    * probing delta prefixes loses nothing; the positional filter and
    * exact verification are identical. */
  def incrementalDedup(spark: SparkSession, dir: String,
                       threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val t = threshold
    val isDelta = md5(col("doc_id").cast("string")) >= "c0"
    val docs = Tables.documents(spark, dir)
    val delta = docs.filter(isDelta)
    val corpus = docs.filter(!isDelta)
    // exact: fingerprint semi-join (constant-size shuffle keys)
    val fpOf = (df: DataFrame) => df.select(col("doc_id"),
      md5(normText(col("text"))).as("fp"))
    val exactDup = fpOf(delta)
      .join(fpOf(corpus).select(col("fp")).distinct(), Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(true))
    // near: one shared shingle+prefix build over BOTH sides with a side
    // flag, then candidates = delta-prefix ⋈ corpus-prefix only
    val sh = shinglesOf(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val pref = sh.join(dfreq.hint("shuffle_hash"), "shingle")
      .withColumn("rk", row_number().over(w.orderBy(col("df"), col("shingle"))))
      .withColumn("sz", count(lit(1)).over(w))
      .filter(col("rk") <= col("sz") - expr(s"CAST(ceil(sz * $t - 1e-9) AS BIGINT)") + 1)
      .select(col("doc_id"), col("shingle"), col("sz"), col("rk"),
        (md5(col("doc_id").cast("string")) >= "c0").as("is_delta"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = pref.filter(col("is_delta")).as("a")
      .join(pref.filter(!col("is_delta")).as("b"), Seq("shingle"))
      .filter(least(col("a.sz"), col("b.sz")).cast("double")
        >= greatest(col("a.sz"), col("b.sz")) * t - 1e-9)
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(min(col("a.rk")).as("ra0"), min(col("b.rk")).as("rb0"))
      .filter((lit(1) + least(col("sz_a") - col("ra0"), col("sz_b") - col("rb0"))).cast("double")
        >= (col("sz_a") + col("sz_b")) * (t / (1 + t)) - 1e-9)
      .select(col("a_id"), col("b_id"))
    val nearDup = verifyJaccard(cand, sh, t) // eager → inputs releasable
      .select(col("a_id").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    sh.unpersist(false)
    pref.unpersist(false)
    delta.select(col("doc_id"), col("lang"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("is_exact"), "exact_dup")
          .when(col("is_near"), "near_dup")
          .otherwise("kept").as("status"))
  }

  private[graft] val shinglesSql =
    """SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(0, greatest(len(t)-2, 0)),
      |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS shingle
      |FROM (SELECT doc_id,
      |        string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      |      FROM documents)""".stripMargin

  /** Exact-jaccard verification SQL over a `cand(a_id, b_id)` CTE — the
    * DuckDB mirror of verifyJaccard. */
  private val verifySql =
    """sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT c.a_id, c.b_id, count(*) AS i
      |  FROM cand c
      |  JOIN sh a ON a.doc_id = c.a_id
      |  JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id,
      |  CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = a_id
      |JOIN sizes sb ON sb.doc_id = b_id
      |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5""".stripMargin

  private[graft] val minhashSigSql = {
    val mins = (0 until NumHashes).map { s =>
      val (a, b) = cwConstants(s)
      s"min(($a * hv + $b) % $MersenneP) AS h$s"
    }.mkString(",\n  ")
    s"""SELECT doc_id,\n  $mins\nFROM (SELECT doc_id,
       |  CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) % $MersenneP AS hv
       |  FROM sh) GROUP BY doc_id""".stripMargin
  }

  private[graft] val minhashBandSql = {
    val cases = (0 until NumHashes / BandRows).map { b =>
      val parts = (0 until BandRows).map(r => s"CAST(h${b * BandRows + r} AS VARCHAR)")
      s"WHEN $b THEN md5(${parts.mkString(" || '|' || ")})"
    }.mkString(" ")
    s"""SELECT doc_id, band, CASE band $cases END AS bh
       |FROM sig, (SELECT unnest(range(0, ${NumHashes / BandRows})) AS band)""".stripMargin
  }

  private val simhashSigSql =
    """toks AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id,
      |      unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
      |    FROM documents) WHERE tok <> ''),
      |bitsum AS (
      |  SELECT doc_id, i,
      |    sum(CASE WHEN ((strpos('0123456789abcdef',
      |            substr(md5(tok), CAST(i // 4 + 1 AS INT), 1)) - 1)
      |          >> (i % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM toks, (SELECT unnest(range(0, 64)) AS i) GROUP BY doc_id, i),
      |sig AS (
      |  SELECT doc_id,
      |    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS sig
      |  FROM bitsum GROUP BY doc_id)""".stripMargin

  private val baseOracle: Map[String, String] = Map(
    "q21_dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS text_fp,
        |  min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    // q22: the uncapped exact inverted index — deliberately NOT the capped
    // enumeration the Spark side runs, so the oracle also proves the df
    // cap loses no pairs on this corpus.
    // uncapped directed inverted index — proves the one-sided prefix /
    // length / positional filters of containmentJoin lose no pair
    "q119_containment" ->
      s"""WITH sh AS ($shinglesSql),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |cand AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, containment FROM (
         |  SELECT a_id, b_id, CAST(inter AS DOUBLE) / sa.sz AS containment
         |  FROM cand JOIN sz sa ON sa.doc_id = a_id)
         |WHERE containment >= 0.8""".stripMargin,
    "q22_jaccard_neardup" ->
      s"""WITH sh AS ($shinglesSql),
         |cand AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |$verifySql""".stripMargin,
    "q23_minhash_lsh" ->
      s"""WITH sh AS ($shinglesSql),
         |sig AS ($minhashSigSql),
         |bk AS ($minhashBandSql),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bk x JOIN bk y ON x.band = y.band AND x.bh = y.bh
         |    AND x.doc_id < y.doc_id),
         |$verifySql""".stripMargin,
    // delta×corpus only, via the UNCAPPED inverted index — the oracle
    // also proves the prefix cap loses no cross-side pairs
    "q91_incremental_dedup" ->
      s"""WITH sh AS ($shinglesSql),
         |fp AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         |       FROM documents),
         |ex AS (SELECT DISTINCT d.doc_id FROM fp d JOIN fp c ON c.fp = d.fp
         |       WHERE md5(CAST(d.doc_id AS VARCHAR)) >= 'c0'
         |         AND md5(CAST(c.doc_id AS VARCHAR)) < 'c0'),
         |cand AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |  WHERE md5(CAST(a.doc_id AS VARCHAR)) >= 'c0'
         |    AND md5(CAST(b.doc_id AS VARCHAR)) < 'c0'
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS i
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.a_id
         |  JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |near AS (
         |  SELECT DISTINCT a_id AS doc_id FROM inter
         |  JOIN sizes sa ON sa.doc_id = a_id
         |  JOIN sizes sb ON sb.doc_id = b_id
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5)
         |SELECT d.doc_id, d.lang,
         |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN near.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'kept' END AS status
         |FROM documents d
         |LEFT JOIN ex ON ex.doc_id = d.doc_id
         |LEFT JOIN near ON near.doc_id = d.doc_id
         |WHERE md5(CAST(d.doc_id AS VARCHAR)) >= 'c0'""".stripMargin,
    // q153: same signature/banding chain as q23; match counts are exact
    // integers, the estimators dyadic rationals with one final division.
    "q153_bbit_minhash" -> {
      val mFull = (0 until NumHashes)
        .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
      val mB = (0 until NumHashes)
        .map(i => s"CASE WHEN sa.h$i % ${1L << BbitBits} = sb.h$i % ${1L << BbitBits} THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH sh AS ($shinglesSql),
         |sig AS ($minhashSigSql),
         |bk AS ($minhashBandSql),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bk x JOIN bk y ON x.band = y.band AND x.bh = y.bh
         |    AND x.doc_id < y.doc_id),
         |m AS (
         |  SELECT a_id, b_id,
         |    $mFull AS m_full,
         |    $mB AS m_b
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = a_id
         |  JOIN sig sb ON sb.doc_id = b_id)
         |SELECT a_id, b_id, CAST(m_full AS INT) AS m_full, CAST(m_b AS INT) AS m_b,
         |  round(m_full / $NumHashes.0, 6) AS j_full,
         |  round((m_b / $NumHashes.0 - 1.0/${1L << BbitBits})
         |      / (1.0 - 1.0/${1L << BbitBits}), 6) AS j_b
         |FROM m""".stripMargin
    },
    // Brute-force statement of the semantics: ALL pairs at Hamming ≤ 3.
    // The Spark plan's triple-banding has provably exact recall for the
    // ≤3 band, so the sets are equal — the oracle checks semantics, not
    // the plan.
    "q24_simhash_neardup" ->
      s"""WITH $simhashSigSql
         |SELECT a_id, b_id, hamming FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_filter(range(1, 65),
         |      k -> substr(a.sig, CAST(k AS INT), 1) <> substr(b.sig, CAST(k AS INT), 1))) AS INT) AS hamming
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
         |WHERE hamming <= 3""".stripMargin,
  )

  /** q181/q182 compose the already-stated oracles (nested-CTE
    * subqueries isolate each method's CTE names), so the audit grades
    * EXACTLY the declared pair semantics — no restatement to drift. */
  val oracle: Map[String, String] = baseOracle ++ Map(
    "q181_dup_spectrum" ->
      """WITH d AS (
        |  SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |    count(*) AS cs
        |  FROM documents GROUP BY 1)
        |SELECT cs AS cluster_size, count(*) AS n_clusters,
        |  CAST(sum(cs) AS BIGINT) AS n_docs
        |FROM d GROUP BY 1""".stripMargin,
    "q182_dedup_agreement" ->
      s"""WITH tr AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (${baseOracle("q22_jaccard_neardup")}) x),
         |m1 AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (${baseOracle("q23_minhash_lsh")}) x),
         |m2 AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (${baseOracle("q24_simhash_neardup")}) x),
         |legs AS (
         |  SELECT 'minhash' AS method,
         |    (SELECT count(*) FROM m1) AS n_pairs,
         |    (SELECT count(*) FROM m1 JOIN tr USING (a_id, b_id)) AS n_hit
         |  UNION ALL
         |  SELECT 'simhash',
         |    (SELECT count(*) FROM m2),
         |    (SELECT count(*) FROM m2 JOIN tr USING (a_id, b_id)))
         |SELECT method, n_pairs, (SELECT count(*) FROM tr) AS n_true, n_hit,
         |  round(CAST(n_hit AS DOUBLE) / n_pairs, 6) AS prec,
         |  round(CAST(n_hit AS DOUBLE) / (SELECT count(*) FROM tr), 6) AS rec
         |FROM legs""".stripMargin,
    // q188: identical audit arithmetic to q182 over the md5-residue
    // document sample — the `documents` CTE shadows the base table for
    // every nested leg (CTE name resolution wins over the catalog), so
    // the three legs replay the Spark side's sampled corpus exactly;
    // inside its own definition the base table must be schema-qualified
    // (`main.documents` — the engine otherwise reads the unqualified
    // name as a circular CTE reference)
    "q188_dedup_agreement_sampled" ->
      s"""WITH documents AS MATERIALIZED (
         |  SELECT * FROM main.documents
         |  WHERE CAST('0x' || substring(md5('ag:' || CAST(doc_id AS VARCHAR)), 1, 8)
         |          AS BIGINT) % $AgreementSampleMod = 0),
         |tr AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (${baseOracle("q22_jaccard_neardup")}) x),
         |m1 AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (${baseOracle("q23_minhash_lsh")}) x),
         |m2 AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (${baseOracle("q24_simhash_neardup")}) x),
         |legs AS (
         |  SELECT 'minhash' AS method,
         |    (SELECT count(*) FROM m1) AS n_pairs,
         |    (SELECT count(*) FROM m1 JOIN tr USING (a_id, b_id)) AS n_hit
         |  UNION ALL
         |  SELECT 'simhash',
         |    (SELECT count(*) FROM m2),
         |    (SELECT count(*) FROM m2 JOIN tr USING (a_id, b_id)))
         |SELECT method, n_pairs, (SELECT count(*) FROM tr) AS n_true, n_hit,
         |  round(CAST(n_hit AS DOUBLE) / n_pairs, 6) AS prec,
         |  round(CAST(n_hit AS DOUBLE) / (SELECT count(*) FROM tr), 6) AS rec
         |FROM legs""".stripMargin,
    "q183_source_dup_matrix" ->
      s"""WITH mp AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (${baseOracle("q23_minhash_lsh")}) x),
         |sp AS (SELECT least(da.source, db.source) AS src_a,
         |         greatest(da.source, db.source) AS src_b
         |       FROM mp JOIN documents da ON da.doc_id = mp.a_id
         |         JOIN documents db ON db.doc_id = mp.b_id),
         |cells AS (SELECT src_a, src_b, count(*) AS n_pairs FROM sp GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS t FROM cells)
         |SELECT src_a, src_b, n_pairs,
         |  round(CAST(n_pairs AS DOUBLE) / t, 6) AS share
         |FROM cells CROSS JOIN tot""".stripMargin,
    "q184_dup_quality" ->
      s"""WITH cl AS (
         |  SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         |    count(*) AS n_dups
         |  FROM documents GROUP BY 1),
         |qq AS (SELECT doc_id, CAST(round(quality * 1e4) AS BIGINT) AS qfp
         |       FROM (${graft.ops.TextAnalysis.qualitySql}) q),
         |j AS (SELECT CASE WHEN n_dups = 1 THEN 'unique'
         |               WHEN n_dups <= 4 THEN 'few' ELSE 'many' END AS bucket, qfp
         |      FROM documents d
         |      JOIN cl ON cl.fp =
         |        md5(lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))))
         |      JOIN qq ON qq.doc_id = d.doc_id)
         |SELECT bucket, count(*) AS n_docs,
         |  round(CAST(sum(qfp) AS DOUBLE) / count(*) / 1e4, 6) AS mean_quality
         |FROM j GROUP BY bucket""".stripMargin,
  )
}
