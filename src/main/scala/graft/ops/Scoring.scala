package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relevance / quality / mixture scoring for training-data curation — the
  * model-free scoring passes a corpus pipeline runs between dedup and
  * packing:
  *
  *  - q94 BM25 ranked retrieval (Robertson & Zaragoza, "The Probabilistic
  *    Relevance Framework: BM25 and Beyond", 2009; the idf form is the
  *    non-negative ln(1 + ·) variant Lucene ships) — the standard "find
  *    the docs most relevant to these terms" primitive for corpus audit.
  *  - q95 bigram language-model cross-entropy (the CCNet quality signal,
  *    Wenzek et al., LREC 2020, with an in-corpus model instead of
  *    KenLM): documents whose token transitions are improbable under the
  *    corpus-wide bigram distribution score high = likely noise.
  *  - q96 DSIR-style hashed-n-gram importance weights (Xie et al.,
  *    "Data Selection for Language Models via Importance Resampling",
  *    NeurIPS 2023): per-document log p_target/p_raw under bag-of-hashed-
  *    bigram unigram models — the weight that resamples a raw crawl
  *    toward a target domain.
  *
  * Scale design: every model here is an AGGREGATE of the corpus (term df,
  * bigram counts, hashed-feature counts), so each query is two shuffles —
  * one to build the model, one to join it back — and the joined-back side
  * is always the smaller one (query-term stats, 256-bucket count tables,
  * bigram vocab ≪ corpus bigram instances). Scalar corpus statistics
  * (N, avgdl, vocab size, feature totals) travel as 1-row broadcast
  * cross-joins, never driver-side collects. All hashes are md5 → the
  * DuckDB oracles recompute bit-identical features (SURVEY §5's
  * engine-portability rule); ln() is the one non-correctly-rounded step,
  * so every score is reported (and ranked) 6-dp-rounded, the q49
  * pattern.
  */
object Scoring {

  private def toksOf(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(Dedup.normText(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")

  /** Per-doc bigram instances (with multiplicity — LM statistics count
    * occurrences, unlike the distinct shingle sets the dedup family
    * uses). Map-side: the transform/explode never shuffles. */
  private def bigramsOf(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        split(Dedup.normText(col("text")), " ").as("toks"))
      .select(col("doc_id"), col("lang"), explode(expr(
        """CASE WHEN size(toks) >= 2
          |  THEN transform(sequence(0, size(toks)-2),
          |         i -> concat(toks[i], ' ', toks[i+1]))
          |  ELSE array() END""".stripMargin)).as("bg"))

  private val QueryTerms = Seq("spark", "hash", "window")
  private val K1 = "1.2"
  private val B  = "0.75"

  /** q94: top-20 documents by BM25 against a fixed query-term set.
    *
    * Model build is two aggregates over the token stream — per-doc term
    * frequencies (shuffle on (doc, term)) and per-doc lengths (map-side
    * partial → tiny) — then df is computed ONLY for the |Q| query terms
    * (the filter lands before the df shuffle, so scoring cost scales
    * with documents containing a query term, not with the corpus
    * vocabulary). N and avgdl ride one broadcast 1-row frame. The final
    * top-20 is orderBy+limit → TakeOrderedAndProject: per-partition
    * heaps, k rows to the driver, never a global sort. */
  /** All per-doc BM25 scores (6-dp rounded) — shared by the q94 top-k and
    * the q103 fusion leg. */
  private[graft] def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val toks = toksOf(spark, dir)
    // the query-term filter lands BEFORE the tf shuffle: only instances of
    // the |Q| query terms ever reach the (doc, term) exchange — a
    // full-vocabulary tf aggregate would shuffle the whole token stream
    // for terms the score never reads (PlanSpec pins the filter side)
    val tfq = toks.filter(col("tok").isin(QueryTerms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val dfq = tfq.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tfq
      .join(broadcast(dfq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      // literal structure matches the oracle token-for-token so both
      // engines evaluate the same float expression tree (ln is the only
      // 1-ulp wobble, absorbed by the 6-dp round)
      .withColumn("term_score", expr(
        s"""ln(1 + (n_docs - df + 0.5)/(df + 0.5))
           | * tf*($K1+1)/(tf + $K1*(1 - $B + $B*dl/avgdl))""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score")), 6).as("bm25"))
  }

  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(desc("bm25"), asc("doc_id"))
      .limit(20)

  /** q95: per-document cross-entropy under an add-one-smoothed corpus
    * bigram model — xent(d) = −mean_{(u,v)∈d} ln (c(u,v)+1)/(c(u·)+V).
    *
    * The model is two aggregates of the bigram stream (pair counts,
    * context counts); scoring joins each bigram instance to its two
    * counts. Both joins shuffle on the bigram/context key — the model
    * side is vocabulary-sized, the instance side corpus-sized, so this
    * is the canonical large-fact ⋈ small-dim shape and AQE broadcasts
    * the model when it fits. Vocab size V is a 1-row broadcast. */
  def lmCrossEntropy(spark: SparkSession, dir: String): DataFrame = {
    // Left in its original lazy shape DELIBERATELY (r22 audit): two
    // rewrites measured slower at sf0.1 — persist+checkpoint 1.22×
    // (the cache write outprices two cheap re-scans for this
    // single-consumer query) and a margin-derived c(u·) 1.07× (AQE
    // broadcasts the model sides, so the pair-count subtree gets NO
    // exchange reuse and executes twice, while the original groupBy-u is
    // map-side partial aggregation with a vocab-sized exchange already).
    // q162, whose xent table feeds FOUR consumers, is where the
    // checkpointed variant wins — see ccnetBuckets.
    val big = bigramsOf(spark, dir).select(col("doc_id"), col("bg"),
      split(col("bg"), " ").getItem(0).as("u"))
    val cnt = big.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    val uc = big.groupBy(col("u")).agg(count(lit(1)).as("cu"))
    val vocab = toksOf(spark, dir).agg(count_distinct(col("tok")).as("v"))
    big.join(cnt, "bg")
      .join(uc, "u")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log((col("c") + lit(1.0)) / (col("cu") + col("v")))), 6).as("xent"))
  }

  /** q162: CCNet's perplexity-bucket split (Wenzek et al., LREC 2020,
    * §4.3) — per LANGUAGE, documents fall into head / middle / tail
    * terciles of the q95 cross-entropy distribution (low xent = fluent
    * under the corpus LM = head; CCNet trains downstream models on
    * head+middle and drops tail). Output: one row per (lang, bucket)
    * with the doc count and mean xent — the corpus-audit report a
    * curation run reads before choosing its keep set.
    *
    * Tercile boundaries come from the q116 dyadic-grid sketch GROUPED
    * BY LANGUAGE, not an ntile window: an exact per-lang ntile sorts
    * every doc of a language inside one window partition (the O(n)
    * task §8.2 bans), while the grid needs one (lang, bucket) count
    * aggregate — ≤ langs×1024 rows however large the corpus — plus a
    * map-side bucket assignment against broadcast per-lang bounds.
    * Bucket LABELS then compare integer grid indices (b ≤ b1), never
    * re-derived float cutpoints, so the tercile split is exactly as
    * deterministic as the grid itself. Docs with no bigram (length <
    * 2 tokens) carry no xent and are out of scope, as in q95. */
  def ccnetBuckets(spark: SparkSession, dir: String, buckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r22: the per-doc xent table used to be RECOMPUTED by every
    // downstream consumer (bounds, bucketing, tercile counts, the final
    // rollup — 40 parquet scans / 98 Exchanges in the final plan, each
    // a full bigram re-explode). The q95 economics apply (persisted
    // bigram stream, margin-derived context counts), then the per-doc
    // xent SLIVER is checkpointed once and every consumer reads it; the
    // bucket assignment is likewise checkpointed for its two uses.
    // Arithmetic is unchanged expression-for-expression.
    val xent = Materialize.shared(bigramsOf(spark, dir).select(col("doc_id"), col("lang"),
      col("bg"), split(col("bg"), " ").getItem(0).as("u"))) { big =>
      val cnt = big.groupBy(col("bg")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // vocab²-bounded; feeds the join AND the margin
      val uc = cnt.select(split(col("bg"), " ").getItem(0).as("u"), col("c"))
        .groupBy(col("u")).agg(sum(col("c")).as("cu"))
      val vocab = toksOf(spark, dir).agg(count_distinct(col("tok")).as("v"))
      big.join(cnt, "bg")
        .join(uc, "u")
        .crossJoin(broadcast(vocab))
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(avg(-log((col("c") + lit(1.0)) / (col("cu") + col("v")))), 6).as("xent"))
        .localCheckpoint(true) // one row per scored doc; feeds four consumers
    }
    val bounds = xent.groupBy(col("lang"))
      .agg(min(col("xent")).as("lo"), max(col("xent")).as("hi"), count(lit(1)).as("n"))
    val bucketed = xent.join(broadcast(bounds), "lang")
      .withColumn("b", least(
        when(col("hi") === col("lo"), lit(0.0))
          .otherwise(floor((col("xent") - col("lo")) / (col("hi") - col("lo")) * buckets)),
        lit((buckets - 1).toDouble)).cast("int"))
      .select(col("lang"), col("xent"), col("b"))
      .localCheckpoint(true) // feeds the tercile counts AND the final rollup
    val counts = bucketed.groupBy(col("lang"), col("b")).agg(count(lit(1)).as("cnt"))
    // the window runs over ≤ langs × buckets COUNT rows, never docs
    val cum = counts.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("lang")).orderBy(col("b"))))
    val cuts = bounds.select(col("lang"), col("n"),
        explode(array(lit(1), lit(2))).as("t"))
      .withColumn("target", ceil(col("t") * col("n") / lit(3.0)).cast("long"))
      .join(cum, Seq("lang"))
      .filter(col("cum") >= col("target"))
      .groupBy(col("lang"), col("t"))
      .agg(min(col("b")).as("cb"))
      .groupBy(col("lang"))
      .agg(min(when(col("t") === 1, col("cb"))).as("b1"),
        min(when(col("t") === 2, col("cb"))).as("b2"))
    bucketed.join(broadcast(cuts), "lang")
      .withColumn("bucket",
        when(col("b") <= col("b1"), lit("head"))
          .when(col("b") <= col("b2"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("xent")), 6).as("avg_xent"))
  }

  /** Per-doc trigram instances as (w1, w2, w3) columns — the q95 bigram
    * stream one order higher. Map-side: transform/explode, no shuffle. */
  private def trigramsOf(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(Dedup.normText(col("text")), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 3
          |  THEN transform(sequence(0, size(toks)-3),
          |         i -> struct(toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3))
          |  ELSE array() END""".stripMargin)).as("tg"))
      .select(col("doc_id"), col("tg.w1"), col("tg.w2"), col("tg.w3"))

  private val BackoffAlpha = 0.4

  /** q150: held-out trigram cross-entropy under STUPID BACKOFF (Brants,
    * Popat, Xu, Och & Dean, "Large Language Models in Machine
    * Translation", EMNLP 2007 §4 — the smoothing DESIGNED for
    * distributed count-table LMs: no discounting state, just
    * S(w₃|w₁w₂) = c₃/c₂ when the trigram was seen, else α·S(w₃|w₂),
    * else α²·(c₁+1)/(N+V) at the add-one unigram floor; α = 0.4).
    *
    * Unlike q95 (which scores the corpus under its own bigram counts),
    * this is a HELD-OUT evaluation — the methodologically honest LM
    * quality signal: the model trains on the ~3/4 md5-hash split of
    * documents (the q91/q50 content-independent convention,
    * md5(doc_id) < 'c0') and scores only the held-out rest, so unseen
    * trigrams actually occur and the backoff chain is exercised for
    * real (ScoringSpec asserts it fires). Scores are per held-out doc:
    * xent = −mean ln S, 6-dp rounded (the q49/q95 float discipline).
    *
    * Scale shape: the model is three count AGGREGATES of the train
    * split (trigram, bigram, unigram tables — exactly the sharded
    * count-table layout of Brants et al. at 2T tokens); scoring joins
    * each held-out trigram instance against them (large-fact ⋈
    * model-dim, AQE broadcasts what fits) and N/V ride a 1-row
    * broadcast. Nothing rescans the corpus. */
  def trigramBackoffXent(spark: SparkSession, dir: String): DataFrame = {
    val isTrain = md5(col("doc_id").cast("string")) < lit("c0")
    val tg = trigramsOf(spark, dir)
    val c3 = tg.filter(isTrain).groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val bg = bigramsOf(spark, dir).select(col("doc_id"),
      split(col("bg"), " ").getItem(0).as("u"),
      split(col("bg"), " ").getItem(1).as("v"))
    val c2 = bg.filter(isTrain).groupBy("u", "v").agg(count(lit(1)).as("c2"))
    val un = toksOf(spark, dir)
    val c1 = un.filter(isTrain).groupBy("tok").agg(count(lit(1)).as("c1"))
    val stats = un.filter(isTrain)
      .agg(count(lit(1)).as("n"), count_distinct(col("tok")).as("v"))
    // c3 non-null ⇒ the context bigram was in train ⇒ c2ctx non-null;
    // c2low non-null ⇒ w2 was in train ⇒ c1mid non-null — no branch
    // can divide by null
    val s = tg.filter(!isTrain)
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2.withColumnsRenamed(Map("u" -> "w1", "v" -> "w2", "c2" -> "c2ctx")),
        Seq("w1", "w2"), "left")
      .join(c2.withColumnsRenamed(Map("u" -> "w2", "v" -> "w3", "c2" -> "c2low")),
        Seq("w2", "w3"), "left")
      .join(c1.withColumnsRenamed(Map("tok" -> "w2", "c1" -> "c1mid")), Seq("w2"), "left")
      .join(c1.withColumnsRenamed(Map("tok" -> "w3", "c1" -> "c1last")), Seq("w3"), "left")
      .crossJoin(broadcast(stats))
    val score = when(col("c3").isNotNull, col("c3") / col("c2ctx"))
      .when(col("c2low").isNotNull, lit(BackoffAlpha) * col("c2low") / col("c1mid"))
      .otherwise(lit(BackoffAlpha * BackoffAlpha) *
        (coalesce(col("c1last"), lit(0L)) + lit(1.0)) / (col("n") + col("v")))
    s.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), round(avg(-log(score)), 6).as("xent"))
  }

  private val NbTargetLang = "en"

  /** q151: multinomial Naive Bayes domain/quality classifier — the
    * LEARNED member of the data-selection family (the GPT-3 Appendix A
    * quality-filter shape: train a cheap classifier on
    * curated-vs-crawl, score the crawl; Brown et al. 2020 used
    * logistic regression over hashed features, and multinomial NB is
    * the count-table analog that trains as pure aggregation — the same
    * reason Brants et al. smoothing fits this engine, McCallum &
    * Nigam, AAAI-98 WS). The target class is the `lang = en` slice
    * (the q96 DSIR convention for "the distribution we want more of");
    * training docs are the md5(doc_id) < 'c0' ~3/4 split (the q150
    * held-out discipline — scores are only meaningful on docs the
    * model never counted).
    *
    * Model: per-token class counts c_pos/c_neg with add-one smoothing
    * over the train vocabulary V, doc-count priors; per held-out doc
    * log-odds = ln(n_pos/n_neg) + Σ_tok [ln p̂(tok|pos) − ln p̂(tok|neg)],
    * 6-dp rounded (the q49/q96 float discipline — the rounded value
    * also decides `pred_target`, the q107 compare-on-rounded rule).
    * Out-of-vocabulary tokens still contribute the smoothing-floor
    * log-ratio ln((T_neg+V)/(T_pos+V)) — standard NB, not a skip.
    *
    * Scale shape: the model is ONE aggregate of the train token stream
    * (vocab-sized, two conditional sums — no per-class passes); corpus
    * totals and priors ride 1-row broadcasts; scoring is the held-out
    * token stream ⋈ vocab-dim (AQE broadcasts when it fits) plus one
    * groupBy(doc). Nothing rescans the corpus; the synthetic corpus has
    * no real lexical lang signal, so log-odds land near the prior
    * (ScoringSpec proves actual LEARNING on a planted class-correlated
    * fixture, and proves the arithmetic against an in-memory
    * reference). */
  private[graft] def nbScores(docs: DataFrame, target: String = NbTargetLang): DataFrame = {
    val isTrain = md5(col("doc_id").cast("string")) < lit("c0")
    val isPos = col("lang") === target
    val toks = docs
      .select(col("doc_id"), col("lang"),
        explode(split(Dedup.normText(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val train = toks.filter(isTrain)
    val tc = train.groupBy(col("tok")).agg(
      sum(when(isPos, 1L).otherwise(0L)).as("cp"),
      count(lit(1)).as("ct"))
    val stats = train.agg(
      sum(when(isPos, 1L).otherwise(0L)).as("tp"),
      count(lit(1)).as("tall"),
      count_distinct(col("tok")).as("v"))
    val priors = docs.filter(isTrain)
      .agg(sum(when(isPos, 1L).otherwise(0L)).as("np"), count(lit(1)).as("nd"))
    val term =
      log((coalesce(col("cp"), lit(0L)) + lit(1.0)) / (col("tp") + col("v"))) -
        log((coalesce(col("ct") - col("cp"), lit(0L)) + lit(1.0)) /
          (col("tall") - col("tp") + col("v")))
    toks.filter(!isTrain)
      .join(tc, Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tok"), sum(term).as("s"))
      .crossJoin(broadcast(priors))
      .withColumn("log_odds",
        round(log(col("np").cast("double") / (col("nd") - col("np"))) + col("s"), 6))
      .withColumn("pred_target", col("log_odds") > lit(0.0))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("log_odds"), col("pred_target"))
  }

  def nbClassifier(spark: SparkSession, dir: String): DataFrame =
    nbScores(Tables.documents(spark, dir))

  private val DsirBuckets = 256

  /** q96: DSIR importance weights. Features are hashed bigrams
    * (md5 → 24 bits → mod `DsirBuckets`); the target distribution is the
    * lang='en' slice, raw is the whole corpus. Each document's log
    * weight is Σ over its feature instances of
    * ln p̂_target(f)/p̂_raw(f) with add-one smoothing.
    *
    * The two count tables are `DsirBuckets` rows regardless of corpus
    * size — they and the 1-row totals broadcast, so scoring is one
    * map-side join pass plus the per-doc sum: the whole query is ONE
    * real shuffle (the final groupBy doc_id). This is what makes
    * hashed-feature importance weighting the 100 TB-practical member of
    * the data-selection family: the model is O(buckets), not O(vocab²). */
  def dsirWeights(spark: SparkSession, dir: String,
                  buckets: Int = DsirBuckets): DataFrame = {
    require(buckets > 0, "bucket count must be positive")
    val feat = bigramsOf(spark, dir)
      .select(col("doc_id"), col("lang"), expr(
        s"CAST(CAST(conv(substring(md5(bg), 1, 6), 16, 10) AS BIGINT) % $buckets AS INT)")
        .as("f"))
    // r22: ONE model-build pass instead of three — the target and raw
    // counts fold into a single per-f aggregate (ct = Σ 1[lang=en] is the
    // old left-joined tcnt with its coalesce(·,0) pre-applied; exact
    // integer arithmetic) and the two totals are its margins, observed
    // by the ≤`buckets`-row checkpoint. The corpus explode now runs
    // twice (model build + scoring join) instead of four times. An empty
    // corpus joins no rows.
    val counts = feat.groupBy(col("f")).agg(count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val (fc, m) = Materialize.sliver(counts)(
      coalesce(sum(col("ct")), lit(0L)).as("nt"), coalesce(sum(col("cr")), lit(0L)).as("nr"))
    val (nt, nr) = (m.getLong(0), m.getLong(1))
    feat.join(broadcast(fc), Seq("f"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(round(sum(log(
        ((col("ct") + lit(1.0)) / lit(nt + buckets)) /
          ((col("cr") + lit(1.0)) / lit(nr + buckets)))), 6).as("log_weight"))
  }

  /** q107: the RESAMPLING step that makes q96's weights a corpus (Xie et
    * al. 2023 §3, "sample without replacement ∝ importance weight",
    * realized deterministically): doc kept iff u(doc) < w(doc)/w_max,
    * where u is the content-independent md5-uniform in [0, 1) (the q50
    * split family) and w_max rides a 1-row broadcast. Acceptance is
    * reproducible across engines/re-runs/cluster shapes — no RNG state —
    * and per-doc: adding documents changes only w_max-normalized
    * thresholds, never which hash a doc draws. Output is the kept-corpus
    * summary per language (kept counts + mean weight), the shape a
    * mixture audit consumes. */
  def dsirResample(spark: SparkSession, dir: String,
                   buckets: Int = DsirBuckets): DataFrame = {
    // r22: the weight table (the full q96 scoring pipeline) used to be
    // computed TWICE — once for its rows and once for the w_max agg.
    // One per-doc-sliver checkpoint observes the max (max over doubles
    // is order-free exact — no summation); w_max re-enters as a literal
    // instead of a 1-row BroadcastExchange. An empty corpus emits no rows.
    val (w, m) = Materialize.sliver(dsirWeights(spark, dir, buckets))(
      coalesce(max(col("log_weight")), lit(0.0)).as("lw_max"))
    val lwMax = m.getDouble(0)
    w
      // acceptance threshold t = w/w_max computed as round(exp(Δlogw), 6):
      // exp() is libm (1-ulp across engines), so the comparison runs on
      // the ROUNDED threshold — both engines then compare identical
      // doubles against the exact 32-bit md5-uniform u
      .withColumn("t", round(exp(col("log_weight") - lit(lwMax)), 6))
      .withColumn("u", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS DOUBLE) / 4294967296.0"))
      .withColumn("kept", col("u") < col("t"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        round(avg(col("log_weight")), 6).as("mean_log_weight"))
  }

  private val RrfK = 60
  private val LegDepth = 50
  private val FusionTopN = 20

  /** q103: hybrid retrieval by Reciprocal Rank Fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009): fuse a lexical ranking (the q94 BM25 leg)
    * with a dense ranking (exact integer-scaled cosine against the
    * vec_id-0 anchor embedding, the q25 arithmetic) as
    * Σ 1/(k + rank) over the lists a document appears in — the standard
    * way a retrieval pipeline combines BM25 and embedding search without
    * score calibration.
    *
    * Scale shape: each leg is a bounded top-`LegDepth`
    * (TakeOrderedAndProject), so the rank windows that follow run over
    * ≤ LegDepth rows — a constant — never the corpus; the fusion is a
    * full-outer join of two constant-size lists. Determinism: the BM25
    * leg ranks on the 6-dp-rounded score; the cosine leg's
    * integer-scaled dot product makes the cos doubles bit-identical in
    * both engines (the q25 precedent); rank ties break on id. */
  def rrfHybrid(spark: SparkSession, dir: String): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(desc("bm25"), asc("doc_id"))
    val bmLeg = bm25Scores(spark, dir)
      .orderBy(desc("bm25"), asc("doc_id")).limit(LegDepth)
      // single-partition window over LegDepth rows — a constant, not corpus
      .withColumn("rb", row_number().over(wAll).cast("long"))
      .select(col("doc_id"), col("rb"))
    val v = Similarity.scaled(spark, dir)
    val qv = v.filter(col("vec_id") === 0)
      .select(col("ai").as("q_ai"), col("n2").as("q_n2"))
    val wCos = org.apache.spark.sql.expressions.Window
      .orderBy(desc("cos"), asc("vec_id"))
    val cosLeg = v.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("cos", expr("CAST(dot_long(q_ai, ai) AS DOUBLE)")
        / (sqrt(col("q_n2").cast("double")) * sqrt(col("n2").cast("double"))))
      .orderBy(desc("cos"), asc("vec_id")).limit(LegDepth)
      .withColumn("rc", row_number().over(wCos).cast("long"))
      .select(col("vec_id").as("doc_id"), col("rc"))
    bmLeg.join(cosLeg, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (col("rb") + RrfK), lit(0.0)) +
          coalesce(lit(1.0) / (col("rc") + RrfK), lit(0.0)), 6))
      .orderBy(desc("rrf"), asc("doc_id")).limit(FusionTopN)
      .select(col("doc_id"), col("rb"), col("rc"), col("rrf"))
  }

  private val bigramSql =
    """SELECT doc_id, lang, unnest(list_transform(range(0, greatest(len(toks)-1, 0)),
      |         i -> toks[i+1] || ' ' || toks[i+2])) AS bg
      |FROM (SELECT doc_id, lang,
      |        string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |      FROM documents)""".stripMargin

  /** The q96 weights pipeline as oracle CTEs ending in a
    * (doc_id, lang, log_weight) relation named `dw` — shared by q96 and
    * the q107 resampling step. */
  private val dsirWeightsSql =
    s"""big AS ($bigramSql),
       |feat AS (SELECT doc_id, lang,
       |    CAST(CAST('0x' || substring(md5(bg), 1, 6) AS BIGINT) % $DsirBuckets AS INT) AS f
       |  FROM big),
       |tcnt AS (SELECT f, count(*) AS ct FROM feat WHERE lang = 'en' GROUP BY 1),
       |rcnt AS (SELECT f, count(*) AS cr FROM feat GROUP BY 1),
       |tot AS (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
       |               count(*) AS nr FROM feat),
       |dw AS (
       |  SELECT doc_id, lang,
       |    round(sum(ln(((coalesce(ct, 0) + 1.0)/(nt + $DsirBuckets))
       |              / ((cr + 1.0)/(nr + $DsirBuckets)))), 6) AS log_weight
       |  FROM feat LEFT JOIN tcnt USING (f) JOIN rcnt USING (f) CROSS JOIN tot
       |  GROUP BY doc_id, lang)""".stripMargin

  /** The q94 scoring pipeline as oracle CTEs (everything up to a
    * (doc_id, bm25) relation named `bm`), shared by q94 and q103. */
  private val bm25ScoresSql =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks WHERE tok <> '' GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |dfq AS (SELECT tok, count(*) AS df FROM tf
       |        WHERE tok IN (${QueryTerms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
       |bm AS (
       |  SELECT doc_id,
       |    round(sum(ln(1 + (n_docs - df + 0.5)/(df + 0.5))
       |      * tf*($K1+1)/(tf + $K1*(1 - $B + $B*dl/avgdl))), 6) AS bm25
       |  FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
       |  GROUP BY doc_id)""".stripMargin

  /** q171: interpolated Kneser–Ney bigram cross-entropy — the smoothing
    * the production CCNet/KenLM perplexity filter actually uses (Chen &
    * Goodman 1999 eq. 4.26; Heafield KenLM 2011), where q95 is the
    * add-one strawman and q150 the stupid-backoff middle ground:
    *
    *   p_KN(w|u) = max(c(u,w) − D, 0)/c(u)
    *             + D·N1+(u,·)/c(u) · N1+(·,w)/|bigram types|
    *
    * with the canonical D = 0.75 (exactly representable in binary, so
    * the per-bigram probability is one deterministic expression over
    * exact integer counts — both engines evaluate the identical tree).
    * Self-scoring over the training corpus means every scored bigram
    * has c ≥ 1; the continuation term still redistributes mass exactly
    * as at inference. xent = avg(−ln p) per doc, 6-dp (q95's shape).
    *
    * Scale shape (the r13 verdict's de-skew, iterated twice against
    * measurements): every KN count — c(u,w), c(u), N1+(u,·), N1+(·,w),
    * |types| — is a function of the bigram TYPE alone, so p is
    * assembled entirely on the vocabulary-sized TYPE sliver and rides
    * ONE equi-join back onto the PER-(doc, type) count table, versus
    * r13's four consecutive corpus-stream joins on Zipf-skewed token
    * keys (measured 11.3×/decade at sf100) and r14's raw-occurrence
    * join-back (11.6×/decade — the Zipf head still carried one row per
    * OCCURRENCE into the skewed-key shuffle). Everything keys on
    * 16-byte md5 hashes (no raw text in any exchange, q133 idiom); the
    * occurrence stream itself is MAP-ONLY and recomputed for its two
    * aggregate uses (type counts, per-doc type counts — a parquet scan
    * plus per-row md5, the cheap side of the trade); the one checkpoint
    * is the TYPE table, which feeds five consumers and is
    * vocabulary-sized (the per-doc count aggregate flows straight into
    * the join, never materialized — the r14-rejected intermediate died
    * on checkpointing that frame, not on aggregating it). */
  def knXent(spark: SparkSession, dir: String): DataFrame = {
    val big = bigramsOf(spark, dir).select(col("doc_id"),
      unhex(md5(col("bg"))).as("bgh"),
      unhex(md5(split(col("bg"), " ").getItem(0))).as("uh"),
      unhex(md5(split(col("bg"), " ").getItem(1))).as("wh"))
    // bgh determines (uh, wh): grouping by all three keeps the type's
    // token keys without a second pass over the text. Truncate: the
    // type table feeds five consumers, and un-truncated each would
    // re-run the corpus-wide count shuffle.
    val cnt = big.groupBy(col("bgh"), col("uh"), col("wh"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    // c(u) = Σ types of u (occurrence count) and N1+(u,·) = type count
    // — one pass over the sliver for both u-margins
    val ustats = cnt.groupBy(col("uh"))
      .agg(sum(col("c")).as("cu"), count(lit(1)).as("fol"))
    val pre = cnt.groupBy(col("wh")).agg(count(lit(1)).as("pre"))
    val nbt = cnt.agg(count(lit(1)).as("nbt"))
    val tp = cnt.join(ustats, "uh").join(pre, "wh")
      .crossJoin(broadcast(nbt))
      .select(col("bgh"),
        (greatest(col("c") - lit(0.75), lit(0.0)) / col("cu") +
          lit(0.75) * col("fol") / col("cu") *
            (col("pre").cast("double") / col("nbt"))).as("p"))
    // The join-back input is pre-aggregated to ONE row per (doc, type)
    // — the r14 shape joined the raw occurrence stream on bgh, so the
    // Zipf head ("of the", once per occurrence) still landed on one
    // reducer and the third decade measured 11.6×/decade (VERDICT r14
    // item 1). The (doc_id, bgh) groupBy collapses map-side (a doc's
    // bigrams are co-partitioned with the scan), the join cardinality
    // drops by the within-doc duplication factor, and the skewed type
    // key now carries at most one row per document. NO checkpoint: the
    // aggregate flows straight into the join (the r14-rejected variant
    // failed on CHECKPOINTING the corpus-sized frame, not on the
    // aggregation itself). xent is the weighted mean Σ c·(−ln p)/Σ c —
    // term-for-term equal to the per-occurrence average.
    val dc = big.select(col("doc_id"), col("bgh"))
      .groupBy(col("doc_id"), col("bgh")).agg(count(lit(1)).as("cd"))
    dc.join(tp, "bgh")
      .groupBy(col("doc_id"))
      .agg(sum(col("cd")).as("n_bigrams"),
        round(sum(col("cd") * -log(col("p"))) / sum(col("cd")), 6).as("xent_kn"))
  }

  val oracle: Map[String, String] = Map(
    "q94_bm25" ->
      s"""WITH $bm25ScoresSql
         |SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "q103_rrf_hybrid" ->
      s"""WITH $bm25ScoresSql,
         |bmleg AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rb
         |  FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT $LegDepth)),
         |v AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ai
         |  FROM embeddings),
         |vn AS (SELECT vec_id, ai,
         |    list_sum(list_transform(range(0, 64), i -> ai[i+1] * ai[i+1])) AS n2 FROM v),
         |qv AS (SELECT ai AS q_ai, n2 AS q_n2 FROM vn WHERE vec_id = 0),
         |cosleg AS (
         |  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rc
         |  FROM (
         |    SELECT vec_id,
         |      CAST(list_sum(list_transform(range(0, 64), i -> q_ai[i+1] * ai[i+1])) AS DOUBLE)
         |        / (sqrt(CAST(q_n2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) AS cos
         |    FROM vn CROSS JOIN qv WHERE vec_id <> 0
         |    ORDER BY cos DESC, vec_id LIMIT $LegDepth))
         |SELECT doc_id, rb, rc,
         |  round(coalesce(CAST(1 AS DOUBLE)/(rb + $RrfK), 0)
         |      + coalesce(CAST(1 AS DOUBLE)/(rc + $RrfK), 0), 6) AS rrf
         |FROM bmleg FULL OUTER JOIN cosleg USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT $FusionTopN""".stripMargin,
    // q171: the oracle replays the de-skewed shape — md5 type keys,
    // type-level p, one join back onto the occurrence stream — so the
    // per-occurrence avg matches term for term.
    "q171_kn_xent" ->
      s"""WITH big AS ($bigramSql),
         |bh AS (SELECT doc_id, unhex(md5(bg)) AS bgh,
         |         unhex(md5(split_part(bg, ' ', 1))) AS uh,
         |         unhex(md5(split_part(bg, ' ', 2))) AS wh FROM big),
         |cnt AS (SELECT bgh, uh, wh, count(*) AS c FROM bh GROUP BY 1, 2, 3),
         |ustats AS (SELECT uh, CAST(sum(c) AS BIGINT) AS cu,
         |             count(*) AS fol FROM cnt GROUP BY 1),
         |pre AS (SELECT wh, count(*) AS pre FROM cnt GROUP BY 1),
         |nbt AS (SELECT count(*) AS nbt FROM cnt),
         |tp AS (SELECT cnt.bgh,
         |         greatest(c - 0.75, 0.0) / cu
         |           + 0.75 * fol / cu * (CAST(pre AS DOUBLE) / nbt) AS p
         |       FROM cnt JOIN ustats USING (uh)
         |       JOIN pre USING (wh) CROSS JOIN nbt),
         |dc AS (SELECT doc_id, bgh, count(*) AS cd FROM bh GROUP BY 1, 2)
         |SELECT dc.doc_id, CAST(sum(cd) AS BIGINT) AS n_bigrams,
         |  round(sum(cd * (-ln(p))) / sum(cd), 6) AS xent_kn
         |FROM dc JOIN tp USING (bgh)
         |GROUP BY 1""".stripMargin,
    "q95_lm_xent" ->
      s"""WITH big AS ($bigramSql),
         |toks AS (
         |  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
         |  FROM documents),
         |vocab AS (SELECT count(DISTINCT tok) AS v FROM toks WHERE tok <> ''),
         |cnt AS (SELECT bg, count(*) AS c FROM big GROUP BY 1),
         |uc AS (SELECT split_part(bg, ' ', 1) AS u, count(*) AS cu FROM big GROUP BY 1)
         |SELECT b.doc_id, count(*) AS n_bigrams,
         |  round(avg(-ln((c + 1.0)/(cu + v))), 6) AS xent
         |FROM big b JOIN cnt ON cnt.bg = b.bg
         |JOIN uc ON uc.u = split_part(b.bg, ' ', 1)
         |CROSS JOIN vocab
         |GROUP BY b.doc_id""".stripMargin,
    "q162_ccnet_buckets" ->
      s"""WITH big AS ($bigramSql),
         |toks AS (
         |  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
         |  FROM documents),
         |vocab AS (SELECT count(DISTINCT tok) AS v FROM toks WHERE tok <> ''),
         |cnt AS (SELECT bg, count(*) AS c FROM big GROUP BY 1),
         |uc AS (SELECT split_part(bg, ' ', 1) AS u, count(*) AS cu FROM big GROUP BY 1),
         |xent AS (
         |  SELECT b.doc_id, b.lang,
         |    round(avg(-ln((c + 1.0)/(cu + v))), 6) AS xent
         |  FROM big b JOIN cnt ON cnt.bg = b.bg
         |  JOIN uc ON uc.u = split_part(b.bg, ' ', 1)
         |  CROSS JOIN vocab
         |  GROUP BY 1, 2),
         |bounds AS (SELECT lang, min(xent) AS lo, max(xent) AS hi, count(*) AS n
         |           FROM xent GROUP BY 1),
         |bucketed AS (
         |  SELECT x.lang, x.xent,
         |    CAST(least(CASE WHEN hi = lo THEN 0.0e0
         |                    ELSE floor((xent - lo) / (hi - lo) * 1024) END,
         |               1023.0e0) AS INT) AS b
         |  FROM xent x JOIN bounds USING (lang)),
         |counts AS (SELECT lang, b, count(*) AS cnt FROM bucketed GROUP BY 1, 2),
         |cum AS (SELECT lang, b, sum(cnt) OVER (PARTITION BY lang ORDER BY b) AS cum
         |        FROM counts),
         |cuts AS (
         |  SELECT lang,
         |    min(CASE WHEN t = 1 THEN cb END) AS b1,
         |    min(CASE WHEN t = 2 THEN cb END) AS b2
         |  FROM (
         |    SELECT c.lang, t.t, min(c.b) AS cb
         |    FROM cum c
         |    JOIN bounds bo USING (lang)
         |    CROSS JOIN (SELECT unnest([1, 2]) AS t) t
         |    WHERE c.cum >= CAST(ceil(t.t * bo.n / 3.0) AS BIGINT)
         |    GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT b.lang,
         |  CASE WHEN b.b <= b1 THEN 'head'
         |       WHEN b.b <= b2 THEN 'middle'
         |       ELSE 'tail' END AS bucket,
         |  count(*) AS n_docs, round(avg(xent), 6) AS avg_xent
         |FROM bucketed b JOIN cuts USING (lang)
         |GROUP BY 1, 2""".stripMargin,
    "q150_trigram_backoff" ->
      s"""WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
         |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
         |  FROM documents),
         |tg AS (SELECT doc_id, h,
         |    unnest(list_transform(range(0, greatest(len(t)-2, 0)),
         |      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS g
         |  FROM d),
         |tg3 AS (SELECT doc_id, h, split_part(g, ' ', 1) AS w1,
         |    split_part(g, ' ', 2) AS w2, split_part(g, ' ', 3) AS w3 FROM tg),
         |c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg3 WHERE h < 'c0' GROUP BY 1, 2, 3),
         |bg AS (SELECT h, unnest(list_transform(range(0, greatest(len(t)-1, 0)),
         |      i -> t[i+1] || ' ' || t[i+2])) AS b
         |  FROM d),
         |c2 AS (SELECT split_part(b, ' ', 1) AS u, split_part(b, ' ', 2) AS v, count(*) AS c2
         |  FROM bg WHERE h < 'c0' GROUP BY 1, 2),
         |un AS (SELECT h, unnest(t) AS w FROM d),
         |c1 AS (SELECT w, count(*) AS c1 FROM un WHERE h < 'c0' AND w <> '' GROUP BY 1),
         |st AS (SELECT count(*) AS n, count(DISTINCT w) AS v FROM un WHERE h < 'c0' AND w <> '')
         |SELECT s.doc_id, count(*) AS n_trigrams,
         |  round(avg(-ln(CASE
         |    WHEN c3.c3 IS NOT NULL THEN CAST(c3.c3 AS DOUBLE) / cctx.c2
         |    WHEN clow.c2 IS NOT NULL THEN $BackoffAlpha * CAST(clow.c2 AS DOUBLE) / cmid.c1
         |    ELSE ${BackoffAlpha * BackoffAlpha} * (coalesce(clast.c1, 0) + 1.0) / (st.n + st.v)
         |  END)), 6) AS xent
         |FROM tg3 s
         |LEFT JOIN c3 ON c3.w1 = s.w1 AND c3.w2 = s.w2 AND c3.w3 = s.w3
         |LEFT JOIN c2 cctx ON cctx.u = s.w1 AND cctx.v = s.w2
         |LEFT JOIN c2 clow ON clow.u = s.w2 AND clow.v = s.w3
         |LEFT JOIN c1 cmid ON cmid.w = s.w2
         |LEFT JOIN c1 clast ON clast.w = s.w3
         |CROSS JOIN st
         |WHERE s.h >= 'c0'
         |GROUP BY 1""".stripMargin,
    "q151_nb_classifier" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) < 'c0' AS tr,
         |    unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
         |  FROM documents),
         |tt AS (SELECT * FROM t WHERE tok <> ''),
         |tc AS (SELECT tok,
         |    sum(CASE WHEN lang = '$NbTargetLang' THEN 1 ELSE 0 END) AS cp,
         |    count(*) AS ct
         |  FROM tt WHERE tr GROUP BY 1),
         |st AS (SELECT
         |    sum(CASE WHEN lang = '$NbTargetLang' THEN 1 ELSE 0 END) AS tp,
         |    count(*) AS tall, count(DISTINCT tok) AS v
         |  FROM tt WHERE tr),
         |pr AS (SELECT
         |    sum(CASE WHEN lang = '$NbTargetLang' THEN 1 ELSE 0 END) AS np,
         |    count(*) AS nd
         |  FROM documents WHERE md5(CAST(doc_id AS VARCHAR)) < 'c0'),
         |sums AS (
         |  SELECT doc_id, lang, count(*) AS n_tok,
         |    sum(ln((coalesce(cp, 0) + 1.0)/(tp + v))
         |      - ln((coalesce(ct - cp, 0) + 1.0)/(tall - tp + v))) AS s
         |  FROM tt LEFT JOIN tc USING (tok) CROSS JOIN st
         |  WHERE NOT tr GROUP BY 1, 2)
         |SELECT doc_id, lang, n_tok,
         |  round(ln(CAST(np AS DOUBLE)/(nd - np)) + s, 6) AS log_odds,
         |  round(ln(CAST(np AS DOUBLE)/(nd - np)) + s, 6) > 0 AS pred_target
         |FROM sums CROSS JOIN pr""".stripMargin,
    "q96_dsir_weights" ->
      s"""WITH $dsirWeightsSql
         |SELECT doc_id, lang, log_weight FROM dw""".stripMargin,
    "q107_dsir_resample" ->
      s"""WITH $dsirWeightsSql,
         |wm AS (SELECT max(log_weight) AS lw_max FROM dw)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN
         |      CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0
         |      < round(exp(log_weight - lw_max), 6)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(avg(log_weight), 6) AS mean_log_weight
         |FROM dw CROSS JOIN wm
         |GROUP BY lang""".stripMargin,
  )
}
