package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines over `documents`
  * (SURVEY.md §7.3(6)): language-ID heuristic, quality scoring, token
  * counting, document fingerprinting. All per-document map-side
  * expressions (no shuffle at all — embarrassingly parallel at 100 TB),
  * fully codegen'd, no UDFs.
  */
object TextAnalysis {

  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopEs = Seq("el", "la", "de", "que", "y", "en")
  private val stopFr = Seq("le", "la", "de", "et", "les", "des")
  private val stopDe = Seq("der", "die", "das", "und", "ist")

  private def inList(xs: Seq[String]) = xs.map(s => s"'$s'").mkString(", ")
  private def hits(xs: Seq[String]) =
    s"size(filter(toks, x -> x IN (${inList(xs)})))"

  /** n-gram/stopword language-ID heuristic: score per language = stopword
    * hits; argmax with a fixed precedence order. (The corpus is synthetic
    * — the point is the operator shape, matched exactly by the oracle.) */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(Dedup.normText(col("text")), " "))
      .select(col("doc_id"), col("lang"),
        expr(hits(stopEn)).as("en"), expr(hits(stopEs)).as("es"),
        expr(hits(stopFr)).as("fr"), expr(hits(stopDe)).as("de"))
      .withColumn("lang_guess", expr(
        """CASE WHEN en >= es AND en >= fr AND en >= de AND en > 0 THEN 'en'
          |     WHEN es >= fr AND es >= de AND es > 0 THEN 'es'
          |     WHEN fr >= de AND fr > 0 THEN 'fr'
          |     WHEN de > 0 THEN 'de'
          |     ELSE 'und' END""".stripMargin))

  /** Quality scoring: length / punctuation / stopword ratios + a weighted
    * score. Ratios are int/int double divisions (deterministic). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(Dedup.normText(col("text")), " "))
      .select(col("doc_id"),
        length(col("text")).as("text_len"),
        size(col("toks")).as("n_tok"),
        (length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z]", "")))
          .as("n_alpha"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
          .as("n_punct"),
        expr(hits(stopEn)).as("stop_hits"))
      .withColumn("alpha_ratio", col("n_alpha").cast("double") / col("text_len"))
      .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tok"))
      .withColumn("quality", expr(
        "0.5 * alpha_ratio + 0.3 * stop_ratio + 0.2 * least(CAST(n_tok AS DOUBLE) / 20.0, 1.0)"))
      .withColumn("low_quality", col("quality") < 0.5)

  /** The q29 quality functional as ONE column over any (text, …) frame
    * — the q185 streaming rollup computes quality through this exact
    * expression so batch and stream can never state the formula twice
    * (TextAnalysisSpec pins ≡ qualityScore's column per doc). */
  private[graft] def qualityColumnOf(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(Dedup.normText(col("text")), " "))
      .withColumn("quality", expr(
        s"""0.5 * (CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '')) AS DOUBLE) / length(text))
           | + 0.3 * (CAST(${hits(stopEn)} AS DOUBLE) / size(toks))
           | + 0.2 * least(CAST(size(toks) AS DOUBLE) / 20.0, 1.0)""".stripMargin))
      .drop("toks")

  /** q186: per-source language-mix KL divergence — KL(P_source ‖
    * P_corpus) over the language distribution, the mix-drift score that
    * ranks sources by how far their language profile sits from the
    * corpus (q131's chi-square watches the SAME corpus over time; this
    * ranks contributors within one snapshot — the CCNet-style "is this
    * crawl slice representative" gate). Terms are per-(source, lang)
    * 10⁻⁹ fixed-point longs (≤ |langs| per source, exact-count ratios
    * in, one deterministic expression out), integer-summed order-free.
    *
    * Scale shape: ONE (source, lang)-keyed count with map-side
    * partials; both margins and the total are aggregations of that
    * |sources|·|langs|-row sliver; the lang margin broadcasts. Nothing
    * corpus-sized shuffles twice. */
  def sourceLangKl(spark: SparkSession, dir: String): DataFrame = {
    // the sliver feeds three margins — truncate so the corpus
    // aggregation runs once; the corpus total (exact integer sum) is
    // observed by that checkpoint, so no third margin agg + 1-row
    // BroadcastExchange appears in the plan. An empty corpus
    // emits no rows for any literal.
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
    val (sl, tot) = Materialize.sliver(counts)(coalesce(sum(col("c")), lit(1L)).as("n"))
    val n = tot.getLong(0)
    val s = sl.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val l = sl.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
    sl.join(s, "source").join(broadcast(l), "lang")
      .withColumn("fp", expr(
        s"""CAST(round((c / CAST(ns AS DOUBLE))
           |  * ln((c / CAST(ns AS DOUBLE)) / (nl / CAST($n AS DOUBLE)))
           |  * 1e9) AS BIGINT)""".stripMargin))
      .groupBy(col("source"))
      .agg(first(col("ns")).as("n_docs"), sum(col("fp")).as("klfp"))
      .select(col("source"), col("n_docs"),
        round(col("klfp").cast("double") / 1e9, 6).as("kl"))
  }

  /** q142: the Gopher quality-rule suite (Rae et al. 2021, App. A —
    * the industry-standard pre-filter every large corpus build runs,
    * and the named-rule complement to q29's weighted score): per
    * document, the canonical thresholds as independent boolean gates
    * plus the conjunction —
    *  - word count in [50, 100 000] (the synthetic ~31–54-token docs
    *    genuinely split on this),
    *  - mean word length in [3, 10] characters,
    *  - ≥ 80% of words contain an alphabetic character,
    *  - symbol-to-word ratio (# and … stand-ins) ≤ 0.1,
    *  - at least 2 DISTINCT required stopwords present.
    * Every feature is an int/int single division (deterministic
    * doubles); entirely map-side, codegen'd, no shuffle. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(Dedup.normText(col("text")), " "))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        expr("length(concat_ws('', toks))").cast("long").as("n_chars"),
        expr("size(filter(toks, x -> x rlike '[a-z]'))").cast("long")
          .as("n_alpha_words"),
        expr("size(filter(toks, x -> x rlike '[#…]'))").cast("long")
          .as("n_symbol_words"),
        expr(s"size(array_intersect(array_distinct(toks), array(${inList(stopEn)})))")
          .cast("long").as("n_stop_distinct"))
      .withColumn("mean_word_len",
        col("n_chars").cast("double") / col("n_words"))
      .withColumn("frac_alpha_words",
        col("n_alpha_words").cast("double") / col("n_words"))
      .withColumn("symbol_ratio",
        col("n_symbol_words").cast("double") / col("n_words"))
      .withColumn("r_word_count", col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("r_mean_word_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("r_alpha", col("frac_alpha_words") >= 0.8)
      .withColumn("r_symbol", col("symbol_ratio") <= 0.1)
      .withColumn("r_stopwords", col("n_stop_distinct") >= 2)
      .withColumn("pass",
        col("r_word_count") && col("r_mean_word_len") && col("r_alpha") &&
          col("r_symbol") && col("r_stopwords"))

  /** Token counting: whitespace tokens, BPE-ish regex tokens
    * ([alpha]+ | [digit]+ | single symbol), distinct counts, bytes/token. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
        expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)").as("bpe"))
      .select(col("doc_id"), col("source"), col("n_ws_tokens"),
        size(col("bpe")).as("n_bpe_tokens"),
        size(array_distinct(col("bpe"))).as("n_uniq_tokens"))

  /** Document fingerprinting: md5 of normalized text (exact-dup key) +
    * min shingle hash (MinHash-style content fingerprint, k=1). md5 is
    * identical across engines, so this one IS oracle-checkable (unlike
    * seeded murmur/xxhash). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("norm", Dedup.normText(col("text")))
      .withColumn("toks", split(col("norm"), " "))
      .select(col("doc_id"),
        md5(col("norm")).as("fp"),
        expr(
          """array_min(CASE WHEN size(toks) >= 3
            |  THEN transform(sequence(0, size(toks)-3),
            |         i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
            |  ELSE array() END)""".stripMargin).as("min_shingle_fp"))

  /** TF-IDF with top-3 terms per document: tf = in-doc occurrences,
    * idf = ln((N+1)/(df+1)). One shuffle for tf (groupBy doc,term), one
    * for df (groupBy term), corpus size joined in as a broadcast scalar;
    * the per-doc top-3 window partitions on doc_id only — group size is
    * bounded by a document's vocabulary, never the corpus. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val toks = docs
      .select(col("doc_id"), explode(split(Dedup.normText(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "tok").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") *
          log((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1)).cast("double")))
    scored
      // ln() is not correctly-rounded and differs by 1 ulp across libm
      // implementations — rank AND report on the 6-dp-rounded score (tok
      // as total-order tiebreak), so a 1-ulp cross-engine divergence at
      // the rank-3/4 boundary cannot flip top-3 membership
      .withColumn("tfidf", round(col("tfidf"), 6))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(desc("tfidf"), asc("tok"))))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        col("tfidf"), col("rn"))
  }

  /** Reproducible train/eval split by content-independent hash: md5 of
    * the doc id compared against a hex threshold ('e6…' ≈ 90% of the
    * uniform hex space). Pure map-side, deterministic across engines and
    * re-runs — the property a training-data split must have (adding docs
    * never reshuffles existing assignments). */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        when(!isEval(col("doc_id")), "train").otherwise("eval").as("split"))

  /** Deterministic stratified sampling for training-data mixing: keep a
    * per-stratum fraction of documents by comparing md5(doc_id) against a
    * per-language hex threshold (uniform hash ⇒ the kept fraction ≈ the
    * threshold's position in hex space). Content-independent, map-side,
    * reproducible across engines/re-runs, and stable under corpus growth
    * — unlike RNG-seeded sampleBy, whose assignments are engine-specific
    * and reshuffle when partitioning changes. en ≈ 75% ('c0'), others
    * ≈ 25% ('40'). */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("h", md5(col("doc_id").cast("string")))
      .filter(when(col("lang") === "en", col("h") < "c0").otherwise(col("h") < "40"))
      .select(col("doc_id"), col("lang"), col("source"))

  /** C4-style text cleaning for training corpora: scrub URLs and emails,
    * strip control characters, collapse whitespace — each step a
    * codegen'd regexp_replace (RE2-compatible patterns, identical in the
    * oracle), with before/after sizes for audit. Map-side only. */
  def textClean(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("cleaned",
        trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          col("text"),
          "https?://[^\\s]+", "<URL>"),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", ""),
          "\\s+", " ")))
      .select(col("doc_id"),
        length(col("text")).as("len_before"),
        length(col("cleaned")).as("len_after"),
        md5(col("cleaned")).as("clean_fp"),
        (length(col("text")) - length(col("cleaned"))).as("removed"))

  /** The curation pipeline composed end-to-end: canonical-copy selection
    * (exact-dup fingerprint, keep min doc_id), alpha-ratio quality gate,
    * and a minimum-length gate, accounted per language — the decision
    * summary a corpus build reviews before committing (each gate is an
    * operator from this module; composition stays one shuffled window +
    * one aggregate). */
  def curationSummary(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"))
    val base = Tables.documents(spark, dir)
      .withColumn("fp", md5(Dedup.normText(col("text"))))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("n_alpha",
        length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z]", "")))
      .withColumn("alpha_ratio", col("n_alpha").cast("double") / length(col("text")))
      .withColumn("n_tok", size(split(Dedup.normText(col("text")), " ")))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .withColumn("is_lowq", col("alpha_ratio") < 0.5)
      .withColumn("is_short", col("n_tok") < 5)
    base.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dupes"),
        sum(when(!col("is_dup") && col("is_lowq"), 1L).otherwise(0L)).as("n_lowq"),
        sum(when(!col("is_dup") && !col("is_lowq") && col("is_short"), 1L).otherwise(0L)).as("n_short"),
        sum(when(!col("is_dup") && !col("is_lowq") && !col("is_short"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Train/eval decontamination (the overlap-removal step every serious
    * LLM data pipeline runs before training — flag training documents
    * sharing any 3-gram shingle with the held-out eval split): the split
    * is q50's content-independent md5 rule, eval shingles collapse to a
    * DISTINCT set, and contamination is a LEFT SEMI join on the shingle
    * key — shuffle-partitioned by shingle, no eval-set broadcast needed
    * (at 100 TB the eval side is still the small side, eligible for
    * Spark's runtime bloom-filter injection on the probe side).
    * Output: per-language train/contaminated/clean counts. */
  /** q50's train/eval split rule — defined ONCE so q79, q84, and the
    * split/decontamination oracles can never drift apart. */
  private[graft] def isEval(c: org.apache.spark.sql.Column) =
    md5(c.cast("string")) >= "e6"

  /** The contaminated-train-doc flag shared by q79 and q84: train docs
    * sharing any shingle with the eval split, as (doc_id, is_cont=true).
    * Filter-first, not a shared diamond: each side shingles only ITS
    * documents, so every doc is shingled exactly once across the two
    * branches and nothing needs persisting (a persisted full-corpus
    * shingle set would be an enormous materialization at 100 TB). */
  private def contaminatedTrainIds(docs: DataFrame): DataFrame =
    Dedup.shinglesOf(docs.filter(!isEval(col("doc_id"))))
      .join(Dedup.shinglesOf(docs.filter(isEval(col("doc_id"))))
        .select(col("shingle")).distinct(), Seq("shingle"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("is_cont", lit(true))

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val contaminated = contaminatedTrainIds(Tables.documents(spark, dir))
    Tables.documents(spark, dir).filter(!isEval(col("doc_id")))
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("is_cont"), 1L).otherwise(0L)).as("n_contaminated"))
      .withColumn("n_clean", col("n_train") - col("n_contaminated"))
  }

  /** Token-budget data mixing: balance every language down to the
    * smallest language's token count. The per-language keep fraction is
    * DERIVED FROM THE DATA (min(lang tokens)/lang tokens, vs q51's fixed
    * thresholds), then applied as a content-independent md5 threshold per
    * document — deterministic, stable under re-runs, map-side apart from
    * the two tiny per-language aggregates (broadcast back). The shape of
    * every "hit a target token budget per source/language" mixing step. */
  def tokenBudgetMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(Dedup.normText(col("text")), " ")).as("n_tok"))
    val perLang = docs.groupBy(col("lang")).agg(sum(col("n_tok")).as("lang_toks"))
    val minToks = perLang.agg(min(col("lang_toks")).as("min_toks"))
    val frac = perLang.crossJoin(broadcast(minToks))
      .withColumn("keep_frac",
        least(lit(1.0), col("min_toks").cast("double") / col("lang_toks")))
      .select(col("lang"), col("lang_toks"), col("keep_frac"))
    docs.join(broadcast(frac), "lang")
      // first 8 md5 hex chars as a uniform uint32 → fraction threshold
      .withColumn("h",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("kept", col("h").cast("double") < col("keep_frac") * 4294967296.0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("lang_toks")).as("lang_toks"),
        max(col("keep_frac")).as("keep_frac"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("kept"), col("n_tok").cast("long")).otherwise(0L)).as("kept_toks"))
  }

  /** Temperature-based language sampling (q167; the α-exponent mixing
    * rule of multilingual corpus builds — Conneau & Lample NeurIPS 2019
    * §3.1, mC4/Xue et al. NAACL 2021 §3.2 — at the canonical α = 0.3):
    * sampling probability p_i ∝ c_i^α flattens the language-size
    * distribution so low-resource languages are up-weighted relative to
    * their raw share (vs q78's balance-to-minimum rule, which is the
    * α = 0 extreme). target_i = round(p_i·N), keep_frac_i =
    * min(1, target_i/c_i), applied per document as q78's
    * content-independent md5 threshold — deterministic and re-runnable.
    *
    * Cross-engine determinism: each language weight c^α is snapped to a
    * 10⁻⁶ fixed-point LONG before the Σ (an integer sum is
    * aggregation-order-free; a double Σ would not be), so p_i is one
    * exact-long ratio; the two emitted ratios are 6-dp rounded.
    * Plan = q78's shape: a per-lang count (map-side partials, ≤ langs
    * rows), two tiny broadcast-back joins, and a map-side keep decision
    * — no corpus-sized shuffle at any scale. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val perLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      // Known 1-ulp exposure (ADVICE r13, accepted): pow is not a
      // correctly-rounded libm call, so the round() here IS the
      // fixed-point snap rather than a guard — a cross-engine 1-ulp
      // pow difference landing exactly on a .5e-6 grid midpoint would
      // shift w_fp by 1 (the tfidf ln() note's failure mode). The flip
      // probability is ~1e-16 per lang per round and the hash gate
      // would catch it loudly; an integer-only c^0.3 approximation is
      // the upgrade if it ever trips.
      .withColumn("w_fp",
        round(pow(col("n_docs").cast("double"), lit(0.3)) * 1e6).cast("long"))
    val tot = perLang.agg(sum(col("w_fp")).as("w_tot"), sum(col("n_docs")).as("n_tot"))
    val frac = perLang.crossJoin(broadcast(tot))
      .withColumn("p_temp", col("w_fp").cast("double") / col("w_tot"))
      .withColumn("target_docs", round(col("p_temp") * col("n_tot")).cast("long"))
      .withColumn("keep_frac",
        least(lit(1.0), col("target_docs").cast("double") / col("n_docs")))
      .select(col("lang"), col("n_docs"), col("p_temp"), col("target_docs"),
        col("keep_frac"))
    docs.join(broadcast(frac), "lang")
      .withColumn("h",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("kept", col("h").cast("double") < col("keep_frac") * 4294967296.0)
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"),
        round(max(col("p_temp")), 6).as("p_temp"),
        max(col("target_docs")).as("target_docs"),
        round(max(col("keep_frac")), 6).as("keep_frac"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"))
  }

  /** Fuzzy n-gram-overlap decontamination (q169): q79 flags a train doc
    * on ANY shared eval shingle; the overlap-FRACTION variant (the
    * fuzzy/benchmark-decontamination rule of the GPT-3 appx-C /
    * PaLM-style audits) scores each (train, eval) candidate pair by
    * |sh(train) ∩ sh(eval)| / |sh(eval)| and keeps each train doc's
    * worst (max) overlap. Candidates come from the shingle posting-list
    * join — work Σ_s df_train(s)·df_eval(s), never all-pairs; the
    * runtime bloom filter prunes the train probe side — the per-pair
    * intersection count is one aggregate over that join, and the final
    * argmax window runs over the candidate-PAIR sliver only, never the
    * corpus. The eval-size join stays a shuffle join (the md5 eval
    * split is ~10% of the corpus here — not broadcastable by design;
    * a real pipeline's fixed eval suite would broadcast).
    * Output: one row per train doc with ≥ 1 shared shingle — best_eval
    * is the argmax (min e_id tiebreak), overlap an exact int/int ratio
    * 6-dp rounded, is_cont at τ = 0.5. */
  def overlapDecontam(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shinglesOf(Tables.documents(spark, dir))
    val train = sh.filter(!isEval(col("doc_id")))
      .select(col("doc_id").as("t_id"), col("shingle"))
    val ev = sh.filter(isEval(col("doc_id")))
      .select(col("doc_id").as("e_id"), col("shingle"))
    val evSize = ev.groupBy(col("e_id")).agg(count(lit(1)).as("e_sh"))
    val inter = train.join(ev, "shingle")
      .groupBy(col("t_id"), col("e_id")).agg(count(lit(1)).as("n_inter"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("t_id")).orderBy(col("overlap").desc, col("e_id"))
    inter.join(evSize, "e_id")
      .withColumn("overlap", round(col("n_inter").cast("double") / col("e_sh"), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("t_id").as("doc_id"), col("e_id").as("best_eval"),
        col("n_inter"), col("e_sh"), col("overlap"),
        (col("overlap") >= 0.5).as("is_cont"))
  }

  /** Feature-hashed document embeddings (q170; the hashing trick —
    * Weinberger et al. ICML 2009): every token lands in dimension
    * uint32(md5(tok)[0:8]) mod 16 with a ± sign from the 9th hex digit,
    * summed per dimension — a fixed-width bag-of-words sketch that
    * bridges `documents` into the vector family (q25/q111 consumers)
    * with no trained vocabulary and no feature dictionary to ship.
    * The whole computation is within-row: the plan has NO Exchange at
    * any corpus size (PlanSpec-pinned) — the 100 TB cost is exactly
    * one map pass over the corpus, and since r14 the per-token md5
    * accumulation is the codegen'd HashEmbed16 expression (one tight
    * digest loop per doc) rather than interpreted HOF lambdas.
    * Components are exact signed integer counts (cross-engine stable);
    * the one derived double, the L2 norm √(Σv²) of exact ints, is
    * emitted 10⁻⁶-fixed-point. vec serializes space-joined (the driver
    * compare rejects array cells). */
  def hashEmbed(spark: SparkSession, dir: String): DataFrame =
    hashVecOf(spark, dir)
      .select(col("doc_id"),
        expr("concat_ws(' ', transform(v, x -> CAST(x AS STRING)))").as("vec"),
        expr("CAST(round(sqrt(CAST(aggregate(v, CAST(0 AS BIGINT), (a, x) -> a + x * x) AS DOUBLE)) * 1e6) AS BIGINT)")
          .as("l2_fp"))

  /** The q170 vector construction as a reusable frame — (doc_id, lang,
    * v: array<bigint>); q187's bitext miner consumes the SAME vectors
    * so the two can never drift. r14: the per-token md5 accumulation
    * runs through the codegen'd [[graft.functions.HashEmbed16]]
    * expression (bit-identical to the previous transform/filter HOF
    * pipeline — the d/sign rules are digest-byte arithmetic — but one
    * tight pass instead of interpreted lambdas: the HOF form cost
    * ~23 µs/doc and dominated q187 at scale). */
  private[graft] def hashVecOf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    Tables.documents(spark, dir)
      .withColumn("toks", split(Dedup.normText(col("text")), " "))
      .withColumn("v", expr("hash_embed16(toks)"))
      .select(col("doc_id"), col("lang"), col("v"))
  }

  /** q187 banding knobs. [[BitextBands]] band slices of
    * [[bitextBandBits]]-bit mean-centered hyperplane signs each; a band
    * bucket's English population is capped at [[bitextBucketCap]](n)
    * (deterministic md5 thinning — a documented recall trade on
    * pathological hot buckets, never a work blowup).
    *
    * Band count is a RECALL knob set by measurement (RECALL_r15): the
    * r14 config (4 bands, 2^r ≥ n/2) measured top-1 recall 0.33 vs the
    * exact cosine nearest English neighbor — the banding was correct
    * but the miner missed the true pair 2 times in 3. Sign-LSH recall
    * is 1−(1−q)^bands for per-band collision q, but bands correlate on
    * natural text (the multiprobe note below), so width does the heavy
    * lifting: 16 bands of (2^r ≥ n/64)-width — expected English bucket
    * load ~32, an 8× skew margin under the cap — measure top-1 recall
    * 0.95 at sf1 / 0.93 at sf10 (vs 0.33 for the r14 config), with the
    * cap's own cost ≤ 0.006 recall. Candidate work stays
    * Θ(n · bands · bucketload) — linear per decade — and the hard
    * ceiling bands·bitextBucketCap(n) candidates/query stands (4096
    * until the n/4096 rule engages past n = 1 M). */
  private[graft] val BitextBands = 16
  private[graft] val BitextMinBandBits = 4
  private[graft] val BitextMaxBandBits = 24
  private[graft] val BitextBucketCap = 256
  private[graft] val BitextCapDivisor = 4096L

  /** Bucket cap as a function of corpus size: max([[BitextBucketCap]],
    * n / [[BitextCapDivisor]]) — the r17 fix for the one knob that
    * silently degraded with corpus growth. r16 measured the FIXED cap
    * 256 as the binding recall constraint at sf100 (n = 5 M): shipped
    * recall 0.8013 vs 0.8803 uncapped, with cap 1024 recovering 0.8690
    * at the same probe cost, while at sf0.001–sf10 the cap cost
    * ≤ 0.023. n/4096 reproduces that measured operating point (1220 at
    * n = 5 M ≥ the measured-good 1024) and keeps the floor 256
    * everywhere the r15/r16 curves were already healthy (n/4096 < 256
    * until n > 1 M). The hard candidates/query ceiling becomes
    * bands · max(256, n/4096) — i.e. n/256 once the rule engages:
    * still 1/256th of the n_en-candidate exact scan, and it buys back
    * the hot-bucket recall the fixed cap was discarding (sf100
    * shipped recall 0.8013 → 0.8727 of the 0.8803 uncapped limit,
    * RECALL_r17.json).
    *
    * THE TRADE, measured (STAGE_r17_q187_sf100 vs STAGE_r16): a
    * cap ∝ n re-admits the hot-bucket pair mass the fixed cap culled,
    * so total pair work gains an n²/4096-class tail on heavy-tailed
    * text — at n = 5 M that is 2.2× the sf100 mining wall-clock
    * (692 s vs 311 s, zero spill both, candidate mass still balanced
    * across partitions: BITEXT_SKEW_r17_sf100 max/med 1.197). The
    * rule is sized for corpus SHARDS up to O(10 M) docs — the same
    * per-shard convention every §8.1 operator uses; past that, either
    * shard (n is per-shard, so the quadratic term stays bounded) or
    * pass an explicit `cap` (256 restores the r16 constant ceiling
    * and its measured recall). The oracle replays the same integer
    * rule (greatest(256, count(w) // 4096)), so the gate checks the
    * rule itself, not a frozen constant. */
  private[graft] def bitextBucketCap(n: Long): Int =
    // Int.MaxValue clamp: n > 2^43 docs/shard would overflow the Int —
    // purely theoretical (8.8 T docs), and a clamped cap that large is
    // effectively "uncapped", which is the right limit behavior
    math.min(Int.MaxValue.toLong,
      math.max(BitextBucketCap.toLong, n / BitextCapDivisor)).toInt

  /** Per-row bytes estimate for the capped-English build side of the
    * band-bucket joins — DERIVED from the embedding width (8 bytes per
    * vector long, + 96 B for ids/band/bv + unsafe-row overhead) so a
    * future HashEmbed widening re-sizes this gate with it (ADVICE r17:
    * a frozen 224 would silently under-size the un-spillable build).
    * Sizes the SHUFFLE_HASH build-side gate in [[bitextPlan]] and the
    * shuffle-partition floor in [[bitextMining]]. Deliberately fat vs
    * the ~8 GB measured sf100 peak: the gate must err toward "add
    * partitions / fall back to SMJ", never toward an un-spillable
    * OOM. */
  private[graft] val BitextBuildRowBytes: Long =
    graft.functions.HashEmbed16.Dims * 8L + 96L

  /** Per-partition hash-build bytes the scoped shuffle-partition floor
    * in [[bitextMining]] sizes for (256 MB — small against any sane
    * executor, large enough that gate-scale runs never bump). */
  private[graft] val BitextHashBuildTarget = 256L << 20

  /** Hard SHUFFLE_HASH gate (ADVICE r15 item 1): a ShuffledHashJoin
    * builds ONE in-memory hash map per shuffle PARTITION, not per
    * bucket — "the build side is bucket-bounded" bounds the map only
    * when the partition count scales with the corpus. Past this
    * estimated per-partition build size [[bitextPlan]] DROPS the hints
    * and the band joins degrade to SortMergeJoin: slow and
    * scratch-hungry (the measured 77 GB sf100 spill), but spillable —
    * never an un-spillable build OOM on a low-partition session. */
  private[graft] val BitextHashBuildMax = 512L << 20

  /** Band width as a function of corpus size: the smallest r in
    * [4, 24] with 2^(r+6) ≥ n — integer-only (the oracle mirrors it as
    * an integer scan, no cross-engine log2 rounding). With the
    * mean-centered signs measured ≈ fair coins, expected English docs
    * per (band, bucket) stays O(1) (~32 at the rule point — the
    * measured recall/work operating point, see [[BitextBands]]), so
    * candidate pair work is Θ(n · bands · bucketload) — linear per decade —
    * instead of the Θ(n²/buckets) a FIXED bucket space degrades to;
    * past the r cap the per-bucket population cap still enforces the
    * hard linear bound candidates/query ≤ bands · cap. */
  private[graft] def bitextBandBits(n: Long): Int =
    (BitextMinBandBits to BitextMaxBandBits)
      .find(r => (64L << r) >= n)
      .getOrElse(BitextMaxBandBits)

  /** Centering moments of the embeddable corpus — one 1-row aggregate
    * COLLECTED to the driver (17 longs, bounded), so the per-plane
    * thresholds S·h_p become plan literals: the hot bit projection
    * does ONE codegen'd dot_long per plane instead of two plus a
    * broadcast-joined array column. */
  private[graft] def bitextStats(w: DataFrame): (Long, Array[Long]) = {
    // sum() over zero rows is NULL — on an all-zero-norm (empty
    // filtered) corpus the bare getLong would NPE unhelpfully inside
    // bitextMining (ADVICE r14 item 2); coalesce makes the empty corpus
    // a well-defined (0, zeros) moment pair and the plan downstream
    // yields the empty result naturally
    val row = w.agg(count(lit(1)).as("nn"),
      (0 until 16).map(i =>
        coalesce(sum(col("v").getItem(i)), lit(0L)).as(s"s$i")): _*).head
    (row.getLong(0), (1 to 16).map(row.getLong).toArray)
  }

  /** `w` extended with the per-band integer bucket values b0..b(bands-1)
    * — r centered sign bits per band, packed big-endian into a BIGINT.
    *
    * Centering: raw sign(v·h) bits are useless on natural corpora —
    * every doc shares the common-token direction, so bit bias measured
    * 0.9+ and buckets collapsed. Bits here are sign(n·(v·h) − S·h)
    * with S = Σ_docs v: the hyperplane passes through the corpus MEAN
    * (n·(v·h) − S·h = n·(v − μ)·h exactly, all in BIGINT — no float
    * mean, so both engines agree bit-for-bit); measured bias 0.43–0.57
    * on every plane. Hyperplanes are the q76 md5-derived ±1 arrays
    * (first 16 of 64 coefficients — the hash-embed space is 16-dim).
    *
    * CALL ONCE AND PERSIST: [[bitextMining]] materializes this frame so
    * every downstream leg reads the cached longs — the r14 profile
    * measured the un-cached form re-evaluating the bands·r-plane projection
    * three times (encnt, capped-English, query legs), 75 of q187's
    * 108 s at sf10. The projection itself is ONE codegen'd
    * [[graft.functions.CenteredLshBands]] call: the compositional bands·r
    * `when(dot_long…)` columns fell out of whole-stage codegen at
    * r ≥ 18 and ran interpreted (35.7 s/500k rows vs ~1 s here). */
  private[graft] def bitextBanded(w: DataFrame, r: Int,
                                  nn: Long, s: Array[Long]): DataFrame = {
    val bands = BitextBands
    val coefs = (0 until bands * r).flatMap(p =>
      graft.ops.Similarity.planeCoefs(p).take(16))
    val thrs = (0 until bands * r).map { p =>
      val c = graft.ops.Similarity.planeCoefs(p).take(16)
      (0 until 16).map(i => s(i) * c(i)).sum
    }
    w.withColumn("bb", expr(
      s"""lsh_bands(v, ${nn}L, $r, $bands,
         |  array(${coefs.mkString(",")}),
         |  array(${thrs.map(t => s"${t}L").mkString(",")}))""".stripMargin))
  }

  /** Execute `body` (which must run its plan EAGERLY — a checkpoint or
    * action) under the q187 scoped session tuning, restoring session
    * defaults after. Two knobs:
    *  - ObjectHashAggregate sort-fallback raise: the top-2 rerank runs
    *    through ObjectHashAggregateExec, whose default 128-keys/
    *    partition fallback turns the Θ(candidates) scored stream into
    *    a full disk sort (the sf100 ENOSPC, with the SMJ sorts, burned
    *    77 GB of scratch on ~1.3 B scored rows). TopKDistinctAgg
    *    buffers are ≤ 2 tuples, so hash mode is the right regime:
    *    2²² keys/partition is a few hundred MB worst-case, and past it
    *    the sort fallback still guards.
    *  - Shuffle-partition floor (ADVICE r15 item 1): enough partitions
    *    that the band joins' per-partition SHUFFLE_HASH build stays
    *    under [[BitextHashBuildTarget]] — a low-cpu session at a big
    *    corpus gets more (smaller) reduce partitions instead of either
    *    an un-spillable hash-build OOM or the SMJ spill wall.
    * Both honor SPARK_GRAFT_NO_TUNING=1 (ADVICE r15 item 3): the A/B
    * switch now yields a genuinely untuned run — which at sf100 means
    * SortMergeJoin band joins and the 128-key sort fallback, i.e. the
    * measured scratch-disk wall. That is the point of the switch.
    * Shared by [[bitextMining]] and [[bitextRecallFrame]] so the probe
    * measures the miner's own execution config. */
  private def withBitextTuning[T](spark: SparkSession, n: Long)(body: => T): T = {
    val scoped: Map[String, String] =
      if (graft.Tuning.disabled) Map.empty
      else {
        val spKey = "spark.sql.shuffle.partitions"
        val floor = ((BitextBands.toLong * n * BitextBuildRowBytes +
          BitextHashBuildTarget - 1) / BitextHashBuildTarget).toInt
        val cur = spark.conf.get(spKey).toInt
        Map(graft.Tuning.ObjectAggFallbackKey ->
          graft.Tuning.ObjectAggFallbackKeys.toString) ++
          // the floor must survive AQE: coalescePartitions merges reduce
          // partitions toward the 64 MB advisory size at RUNTIME, so a
          // plan-time shuffle.partitions floor alone does not enforce the
          // per-partition hash-build bound the SHUFFLE_HASH gate assumes
          // (ADVICE r16 item 1) — minPartitionNum pins the same floor on
          // the coalescer itself
          (if (floor > cur) Map(spKey -> floor.toString,
            "spark.sql.adaptive.coalescePartitions.minPartitionNum" ->
              floor.toString) else Map.empty)
      }
    val olds = scoped.keys.map(k => k -> spark.conf.getOption(k)).toMap
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The bucket legs + candidate join + rerank as ONE lazy plan over a
    * caller-supplied banded frame (`wb` = [[bitextBanded]], persisted
    * by the caller) — split out so PlanSpec can audit the physical
    * shape (the public [[bitextMining]] checkpoints the tiny result,
    * which hides the interior from EXPLAIN — the q87 lifecycle). */
  private[graft] def bitextPlan(spark: SparkSession, wb: DataFrame,
                                n: Long, r: Int, minCos: Double,
                                multiprobe: Boolean = false,
                                cap: Int = BitextBucketCap): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val bands = BitextBands
    // SHUFFLE_HASH build gate (ADVICE r15 item 1, see
    // [[BitextHashBuildMax]]): estimate the FAT build side — enCap is
    // ≤ bands·n_en rows carrying a 16-long vector; `n` (whole corpus)
    // conservatively bounds n_en — against the partition count the
    // session will actually hash-build at. [[bitextMining]]'s scoped
    // shuffle-partition floor keeps tuned runs under the gate, so the
    // fast path is unchanged where it was measured; an untuned
    // low-partition session falls back to spillable SortMergeJoin
    // instead of an un-spillable build OOM.
    val parts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val hashBuildOk =
      bands.toLong * math.max(0L, n) * BitextBuildRowBytes / parts <= BitextHashBuildMax
    def bhint(df: DataFrame): DataFrame =
      if (hashBuildOk) df.hint("SHUFFLE_HASH") else df
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"), col("bb").getItem(b).as("bv")))
    // both bucket legs CARRY their vectors (the q155 r13f lesson:
    // score pairs where the join enumerates them) — the band join's
    // output computes its cosine in place and flows straight into the
    // partial top-2, so the Θ(candidates) scored stream NEVER shuffles
    // and the pair sliver pays no distinct exchange or vector joins
    val en = wb.filter(col("lang") === "en")
      .select(col("doc_id").as("en_id"), col("v").as("en_v"),
        col("n2").as("en_n2"), explode(array(bandCols: _*)).as("bk"))
      .select(col("en_id"), col("en_v"), col("en_n2"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
    // deterministic population cap: a bucket with cb ≤ cap keeps every
    // English doc (x % cb < cb ≤ cap); a hot bucket keeps the ≈cap docs
    // whose md5 residue lands under the cap — bounded pair work with a
    // documented recall effect, never a single-task skew straggler
    // SHUFFLE_HASH on every band-bucket join build side (via the
    // gated `bhint` above): both joins key on (band, bv) whose build
    // inputs are bucket-bounded (encnt is one row per occupied bucket;
    // enCap ≤ cap docs/bucket), so a per-partition hash build stays
    // small whenever partitions scale with the corpus — while the
    // default SortMergeJoin SORTS two banded vector-carrying streams
    // (bands · n rows × ~200 B), which at sf100 measured ENOSPC through
    // 77 GB of sort spill in the join stage. Hash build also reuses the
    // (band, bv) exchange encnt's own aggregation already paid.
    val encnt = en.groupBy(col("band"), col("bv")).agg(count(lit(1)).as("cb"))
    val enCap = en.join(bhint(encnt), Seq("band", "bv"))
      .filter(expr(
        s"""CAST(conv(substring(md5(concat_ws(':',
           |  CAST(en_id AS STRING), CAST(band AS STRING))), 1, 8), 16, 10)
           |  AS BIGINT) % cb < $cap""".stripMargin))
      .select(col("en_id"), col("en_v"), col("en_n2"), col("band"), col("bv"))
    val tb0 = wb.filter(col("lang") =!= "en")
      .select(col("doc_id").as("t_id"), col("lang"), col("v").as("t_v"),
        col("n2").as("t_n2"), explode(array(bandCols: _*)).as("bk"))
      .select(col("t_id"), col("lang"), col("t_v"), col("t_n2"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
    // 1-bit XOR multiprobe is OFF by default and a knob, not the
    // recall mechanism: on correlated natural-text vectors the flip
    // buckets are themselves dense, and the sf10 measurement (500k
    // docs, r = 18) put multiprobe at 957 candidates/query vs 136
    // exact-bucket — a ~7× pair-work multiplier for marginal recall
    // the independent bands already provide. (q76 keeps ITS
    // multiprobe: 6-bit bands over near-uniform buckets are the
    // regime where 1-bit neighbors are cheap.)
    val tb =
      if (!multiprobe) tb0
      else tb0.select(col("t_id"), col("lang"), col("t_v"), col("t_n2"),
        col("band"), explode(array(col("bv") +: (0 until r).map(j =>
          expr(s"bv ^ ${1L << j}")): _*)).as("bv"))
    // a pair sharing several bands emits one scored row per shared
    // band, all bit-identical (exact-int dot, same expression) — the
    // tuple-dedup inside the bounded aggregator makes this equal to
    // distinct-pairs-then-rank without ever exchanging the pair stream
    val top2 = udaf(new graft.functions.TopKDistinctAgg(2))
    tb.join(bhint(enCap), Seq("band", "bv"))
      .withColumn("cos",
        expr("dot_long(t_v, en_v)").cast("double") /
          (sqrt(col("t_n2").cast("double")) * sqrt(col("en_n2").cast("double"))))
      .groupBy(col("t_id"))
      .agg(first(col("lang")).as("lang"), top2(col("cos"), col("en_id")).as("top"))
      .select(col("t_id"), col("lang"),
        expr("top[0]._2").as("en_id"),
        round(expr("top[0]._1"), 6).as("cos"),
        round(expr("top[0]._1 - coalesce(get(top, 1)._1, CAST(0 AS DOUBLE))"), 6).as("margin"))
      .filter(col("cos") >= minCos)
  }

  /** q187: bitext / translation-candidate mining (the margin criterion
    * of Artetxe & Schwenk 2019 §3.2, simplified to the runner-up
    * margin) — for every non-English document, the best English
    * neighbor by hash-embedding cosine among its banded sign-LSH
    * candidates (Charikar 2002's hyperplane family — q76's banded
    * machinery over the 16-dim hash embedding), margin = best −
    * runner-up (single-candidate sets keep margin = cos). The operator
    * SHAPE — cheap doc embedding → banded bucket equi-join, cross-side
    * only → bounded top-2 rerank — is the production parallel-corpus
    * miner.
    *
    * r13's monolithic 16-bit sign bucket was a measured scale-killer
    * (255 s at sf0.1): correlated natural-text vectors occupy ~200 of
    * the 2¹⁶ patterns, so the FIXED bucket space degrades to
    * Θ(n²/occupied) pair work — and Catalyst additionally inlined the
    * interpreted hash-embed HOFs into the bucket/norm expressions,
    * re-evaluating the md5 token transform per element_at (≈40 ms/doc).
    * v2 fixes both: [[BitextBands]] bands of [[bitextBandBits]](n)
    * MEAN-CENTERED sign bits (bucket space GROWS with the corpus and
    * bits are measured ≈ fair; see [[bitextBanded]]), a deterministic
    * English-side population cap, and TWO cache boundaries — the raw
    * vectors (below the n2/filter step: the cache is what stops
    * predicate pushdown from re-inlining the interpreted HOF lambdas,
    * which alone cost 14.6 s/5k docs) and the banded frame (the
    * bands·r-plane projection is paid once per doc, not once per
    * downstream leg — re-evaluation was 75 of 108 s at sf10).
    *
    * Determinism: hash-embed components are exact ints, so dots/norms
    * are exact and every cosine is one double expression; TopKAgg's
    * (score desc, id asc) order ≡ the oracle's window order; the cap
    * thins by exact md5 residues; the oracle replays planes, banding,
    * cap, and rerank bit-for-bit.
    *
    * Scale shape: candidate pairs ≈ n_t · bands · bucketload with
    * r = bitextBandBits(n) growing the bucket space per decade, and a
    * HARD ceiling of bands · bitextBucketCap(n) candidates/query —
    * bands·256 until n > 1 M, then n/256 (see [[bitextBucketCap]] for
    * the measured recall trade that buys); the rerank is a bounded
    * map-side partial aggregation
    * over the deduped pair sliver; no window over corpus rows, no
    * all-pairs. Recall comes from the [[BitextBands]] independent bands
    * (measured top-1 recall vs exact cosine: RECALL_r15 / the
    * CurationOpsSpec recall-floor law); 1-bit
    * multiprobe exists as an opt-in knob but measured a ~7× candidate
    * multiplier on correlated text (see [[bitextPlan]]). */
  /** `cap` ≤ 0 (the default) means the [[bitextBucketCap]](n) rule —
    * the per-(band, bucket) English population ceiling as a documented
    * function of corpus size, which the gate oracle replays as the
    * same integer rule. An explicit positive `cap` overrides it (probe
    * instrumentation; the r16 knob probes that MEASURED the rule's
    * operating point). r16 background: the fixed cap 256 was the
    * binding recall constraint at sf100 (0.8013 vs 0.8803 uncapped;
    * 1024 recovered 0.8690 at the same probe cost — the cap only pays
    * in hot buckets), and width (rDelta) is NOT the lever there —
    * wider buckets measured recall DOWN (0.7910) because they push
    * more buckets past the cap. */
  def bitextMining(spark: SparkSession, dir: String,
                   minCos: Double = 0.5,
                   cap: Int = 0): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val hv = hashVecOf(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = hv.withColumn("n2", expr("dot_long(v, v)")).filter(col("n2") > 0)
    val n = w.count()
    val r = bitextBandBits(n)
    val capEff = if (cap > 0) cap else bitextBucketCap(n)
    val (nn, s) = bitextStats(w)
    val wb = bitextBanded(w, r, nn, s)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = withBitextTuning(spark, n) {
      bitextPlan(spark, wb, n, r, minCos, cap = capEff).localCheckpoint(true)
    }
    wb.unpersist(false)
    hv.unpersist(false)
    out
  }

  /** q187 recall instrumentation (VERDICT r14 item 2): per sampled
    * non-English query doc, the EXACT cosine-top-1 English neighbor
    * (q25's brute machinery — the English side rides one broadcast, the
    * scored stream never shuffles, partial max-by aggregates map-side)
    * joined against the banded miner's answer at the shipped cap AND
    * uncapped — so top-1 recall and the bucket cap's separate
    * contribution are both measurable from one frame. The frame also
    * carries the authoritative hit verdicts (`band_hit`/`nocap_hit`:
    * id match with the exact top-1, or exact raw-cosine equality — a
    * genuine score tie; see the predicate comment in the body), so
    * every consumer scores recall identically. Queries are the
    * deterministic md5-order prefix of the non-English side (re-runnable;
    * at sampleN ≥ n_t this is the whole corpus). minCos is disabled on
    * the banded legs: recall compares neighbor IDENTITY, not the
    * mining threshold. Instrumentation only — [[bitextMining]] is the
    * operator; nothing here runs in the gate path. */
  private[graft] def bitextRecallFrame(spark: SparkSession, dir: String,
                                       sampleN: Int,
                                       rDelta: Int = 0,
                                       cap: Int = 0): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val hv = hashVecOf(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = hv.withColumn("n2", expr("dot_long(v, v)")).filter(col("n2") > 0)
    val n = w.count()
    // cap ≤ 0 = the shipped bitextBucketCap(n) rule, exactly as
    // bitextMining resolves it — the probe measures the config the
    // miner ships; the output carries `cap_used` so artifacts
    // self-describe the effective value under the rule
    val capEff = if (cap > 0) cap else bitextBucketCap(n)
    // rDelta < 0 probes WIDER buckets than the shipped rule (each −1
    // doubles expected bucket load and candidate work) — recall-curve
    // instrumentation for picking the rule's operating point
    val r = math.max(1, bitextBandBits(n) + rDelta)
    val (nn, s) = bitextStats(w)
    val wb = bitextBanded(w, r, nn, s)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = wb.filter(col("lang") =!= "en")
      .select(col("doc_id"), col("v"), col("n2"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(sampleN)
    val en = w.filter(col("lang") === "en")
      .select(col("doc_id").as("en_id"), col("v").as("en_v"),
        col("n2").as("en_n2"))
    // The exact brute leg, in the shape a 100 TB exact-audit needs (both
    // lessons measured at sf100 this round):
    //  - broadcast the SAMPLE and stream the English corpus, not the
    //    reverse — collecting the 2.5 M-row en side for a broadcast
    //    stalled the local-mode driver's RPC dispatcher past the 120 s
    //    heartbeat timeout and the executor got declared dead mid-probe;
    //  - rank with the bounded TopKAgg(1) (ordering ≡ the old
    //    max(struct(cos, −en_id)): score desc, id asc), NOT max(struct) —
    //    a struct-typed agg buffer is not HashAggregate-mutable, so
    //    Catalyst planned SortAggregate and SORTED the n_en × sampleN
    //    scored stream (7.5 B rows at sf100 — ENOSPC through the
    //    scratch disk). TopKAgg reduces each partition to ≤ sampleN
    //    1-tuple buffers map-side; nothing corpus-sized ever sorts,
    //    shuffles, or collects. Runs under withBitextTuning so the
    //    ObjectHashAggregate fallback (default 128 keys/partition —
    //    which would re-introduce the very same input sort) stays hash.
    val top1 = udaf(new graft.functions.TopKAgg(1))
    val exact = en.crossJoin(broadcast(q))
      .withColumn("cos",
        expr("dot_long(v, en_v)").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("en_n2").cast("double"))))
      .groupBy(col("doc_id"))
      .agg(top1(col("cos"), col("en_id")).as("m"))
      .select(col("doc_id").as("t_id"),
        expr("m[0]._1").as("exact_cos"), expr("m[0]._2").as("exact_en"))
    // Mine only the SAMPLED queries: the English side (which alone
    // determines bucket populations and the cap) stays whole, but the
    // non-English side is semi-joined down to the sample — per-query
    // results are identical (top-2 rerank is independent across t_ids)
    // and the two mining legs stop paying for the >99% of non-English
    // docs the probe then discards at corpus scale.
    val qIds = broadcast(q.select(col("doc_id")).distinct())
    val wbQ = wb.filter(col("lang") === "en").unionByName(
      wb.filter(col("lang") =!= "en").join(qIds, Seq("doc_id"), "left_semi"))
    // the two mining legs AND the exact leg run under the miner's own
    // scoped tuning (the probe must measure the config [[bitextMining]]
    // ships, and the exact leg's top-1 aggregate needs the hash-mode
    // fallback raise — see the `exact` comment); results are
    // sampleN-row slivers, checkpointed eagerly inside the scope
    val joined = withBitextTuning(spark, n) {
      val banded = bitextPlan(spark, wbQ, n, r, minCos = -2.0, cap = capEff)
        .select(col("t_id"), col("en_id").as("band_en"), col("cos").as("band_cos"))
        .localCheckpoint(true)
      val noCap = bitextPlan(spark, wbQ, n, r, minCos = -2.0, cap = Int.MaxValue)
        .select(col("t_id"), col("en_id").as("nocap_en"), col("cos").as("nocap_cos"))
        .localCheckpoint(true)
      exact
        .join(banded, Seq("t_id"), "left")
        .join(noCap, Seq("t_id"), "left")
        .join(q.select(col("doc_id").as("t_id"), col("v").as("q_v"),
          col("n2").as("q_n2")), Seq("t_id"))
        .localCheckpoint(true) // the exact brute leg runs ONCE, here
    }
    // Hit predicate, computed HERE so CurationOpsSpec's recall-floor
    // law and RecallProbe read the SAME `band_hit`/`nocap_hit` columns
    // and cannot drift (ADVICE r15 item 4). A banded answer is a
    // correct top-1 iff it IS the exact neighbor by id OR attains the
    // exact max cosine (a genuine score tie). The r15 criterion
    // compared the miner's 6-dp ROUNDED cosine against the raw exact
    // one within a strict 5e-7, which (a) credited near-ties within
    // half a grid step that are NOT score ties and (b) missed a true
    // tie landing exactly on the boundary. Recomputing the answer's
    // cosine from the VECTORS with the identical expression makes the
    // comparison exact double equality (same exact-int inputs →
    // bit-identical double), no tolerance at all.
    val needEn = joined.select(explode(array(col("band_en"),
      col("nocap_en"))).as("en_id")).filter(col("en_id").isNotNull).distinct()
    val enSliver = en.join(broadcast(needEn), Seq("en_id"), "left_semi")
      .localCheckpoint(true) // ≤ 2·sampleN rows of answer vectors
    def withHit(df: DataFrame, enCol: String, hitCol: String): DataFrame =
      df.join(broadcast(enSliver.select(col("en_id").as(enCol),
        col("en_v").as("h_v"), col("en_n2").as("h_n2"))), Seq(enCol), "left")
        .withColumn(hitCol, col(enCol).isNotNull &&
          (col(enCol) === col("exact_en") ||
            (expr("dot_long(q_v, h_v)").cast("double") /
              (sqrt(col("q_n2").cast("double")) *
                sqrt(col("h_n2").cast("double")))) === col("exact_cos")))
        .drop("h_v", "h_n2")
    val out = withHit(withHit(joined, "band_en", "band_hit"),
      "nocap_en", "nocap_hit")
      .drop("q_v", "q_n2")
      .withColumn("cap_used", lit(capEff))
      .localCheckpoint(true)
    wb.unpersist(false)
    hv.unpersist(false)
    out
  }

  /** Token-entropy quality gate (q172): Shannon entropy of the
    * within-document token distribution — the classic spam/boilerplate
    * signal (machine-generated keyword stuffing and template pages
    * collapse to low entropy; natural prose for these lengths sits
    * higher), complementing q80's repeated-bigram ratio with a
    * distribution-shape measure. Entirely within-row HOFs over the
    * q170 idiom — NO Exchange at any corpus size.
    *
    * Cross-engine determinism: −p·ln p is summed as per-TYPE 10⁻⁹
    * fixed-point LONGs (each term rounded, then integer-summed over
    * array_distinct order-FREE — the float Σ would depend on term
    * order, which the two engines don't share); `ent` is then one
    * exact long→double division. */
  def entropyGate(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks0", split(Dedup.normText(col("text")), " "))
      .withColumn("toks", expr("filter(toks0, x -> x <> '')"))
      .withColumn("n", size(col("toks")))
      .withColumn("ent_fp", expr(
        """aggregate(array_distinct(toks), CAST(0 AS BIGINT), (a, t) ->
          |  a + CAST(round(-(size(filter(toks, x -> x = t)) / CAST(n AS DOUBLE))
          |        * ln(size(filter(toks, x -> x = t)) / CAST(n AS DOUBLE)) * 1e9)
          |      AS BIGINT))""".stripMargin))
      .select(col("doc_id"), col("lang"),
        col("n").cast("long").as("n_tok"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
        col("ent_fp"),
        (col("ent_fp").cast("double") / 1e9).as("ent"),
        (col("ent_fp") < 2500000000L).as("is_low_entropy"))

  /** PPMI co-occurrence associations (q173; Church & Hanks 1990 /
    * Levy & Goldberg 2014's PPMI baseline): ordered skip-bigram pairs
    * within a ±2 token window, positive pointwise mutual information
    * ln(c_ab·N/(c_a·c_b)) clamped at 0, top-3 collocates per focus
    * word among pairs seen ≥ 3 times — the distributional-association
    * table feeding phrase detection and embedding sanity checks.
    *
    * Scale shape: pair extraction is map-side (two fixed offsets per
    * position); counts are token-keyed aggregates with map-side
    * partials; the ranking window runs over the ≥3-support PAIR-TYPE
    * sliver (≪ corpus — bounded by distinct co-occurring pairs), the
    * q49 idiom, ordered by the 6-dp-rounded score so rank ties are
    * engine-stable. */
  def ppmiTopK(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(split(Dedup.normText(col("text")), " ").as("toks"))
      .select(explode(expr(
        """CASE WHEN size(toks) >= 2 THEN
          |  flatten(transform(sequence(0, size(toks)-2), i ->
          |    CASE WHEN i + 2 <= size(toks)-1
          |      THEN array(named_struct('a', toks[i], 'b', toks[i+1]),
          |                 named_struct('a', toks[i], 'b', toks[i+2]))
          |      ELSE array(named_struct('a', toks[i], 'b', toks[i+1])) END))
          |ELSE array() END""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
    // ONE corpus pass (r22): the (a,b) pair-TYPE count table is the only
    // corpus-sized aggregation; the margins and the total are EXACT
    // functions of it (every pair row lands in exactly one (a,b) group,
    // so c_a = Σ_b c_ab, c_b = Σ_a c_ab, N = Σ c_ab — all order-free
    // integer sums). The prior spelling aggregated the unmaterialized
    // explode FOUR separate times (cab/ca/cb/tot — 8 parquet scans in
    // the physical plan); N is now observed by the pair-table checkpoint
    // and the margins are sliver-sized re-aggregations. An empty pair
    // table emits no rows for any literal.
    val (cab, tot) = Materialize.sliver(pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c_ab")))(coalesce(sum(col("c_ab")), lit(1L)).as("n"))
    val nPairs = tot.getLong(0)
    val ca = cab.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
    val cb = cab.groupBy(col("b")).agg(sum(col("c_ab")).as("c_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("ppmi").desc, col("b"))
    cab.filter(col("c_ab") >= 3)
      .join(ca, "a").join(cb, "b")
      .withColumn("ppmi", round(greatest(
        log(col("c_ab").cast("double") * lit(nPairs) /
          (col("c_a").cast("double") * col("c_b"))), lit(0.0)), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("ppmi") > 0.0)
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        col("ppmi"), col("rn"))
  }

  /** Corpus n-gram diversity per language (q174): type/token ratio and
    * distinct-trigram ratio — the standard diversity telemetry for a
    * training mix (Li et al. 2016's distinct-n, the Self-BLEU
    * complement): memorized/templated corpora collapse distinct-3
    * toward 0 while natural text stays high. Ratios of exact longs
    * rounded at 6 dp, so cross-engine equality is exact.
    *
    * Scale shape: two token/gram-keyed counts with map-side partials
    * (distinct counted as a second tiny agg over the TYPE sliver, never
    * count(distinct) over the corpus), then a per-lang rollup of
    * vocabulary-sized inputs. No window, no all-pairs, nothing beyond
    * key-hashed shuffles at any corpus size. Both counts key on 16-byte
    * md5 gram ids (the q133 idiom, mirrored by the oracle) — raw
    * token/trigram TEXT never enters an exchange; r13's text-keyed
    * shape measured 14.6×/decade at sf100 on exactly that. */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), split(Dedup.normText(col("text")), " ").as("toks0"))
      .withColumn("toks", expr("filter(toks0, x -> x <> '')"))
    val tokLeg = toks.select(col("lang"), explode(col("toks")).as("t"))
      .groupBy(col("lang"), unhex(md5(col("t"))).as("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_types"))
    val gramLeg = toks
      .select(col("lang"), explode(expr(
        """CASE WHEN size(toks) >= 3
          |  THEN transform(sequence(0, size(toks)-3), i ->
          |         unhex(md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))))
          |  ELSE array() END""".stripMargin)).as("h"))
      .groupBy(col("lang"), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_3grams"), count(lit(1)).as("n_3gram_types"))
    tokLeg.join(gramLeg, Seq("lang"), "left")
      .select(col("lang"), col("n_tok"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tok"), 6).as("ttr"),
        coalesce(col("n_3grams"), lit(0L)).as("n_3grams"),
        coalesce(col("n_3gram_types"), lit(0L)).as("n_3gram_types"),
        coalesce(round(col("n_3gram_types").cast("double") / col("n_3grams"), 6),
          lit(0.0)).as("div_3gram"))
  }

  /** Zipf-slope fit depth: the head of the rank-frequency curve the
    * least-squares line is fit over. */
  private[graft] val ZipfRankCap = 512

  /** Per-language Zipf slope (q175): least-squares fit of ln(freq) on
    * ln(rank) over the top-[[ZipfRankCap]] token types — the classic
    * corpus-health check (natural language sits near −1; keyword-stuffed
    * or templated text flattens toward 0, Zipf 1949 / Piantadosi 2014).
    *
    * Determinism: the four moment sums are per-TERM 10⁻⁹ fixed-point
    * longs integer-summed (order-free, the q172 idiom — a double Σ
    * would depend on partition order), and the closed-form slope
    *   (n·Sxy − Sx·Sy) / (n·Sxx − Sx²)
    * is then ONE identically-shaped double expression over exact
    * integers in both engines. Languages with < 8 ranked types are
    * dropped (no degenerate fits).
    *
    * Scale shape: a token-keyed count (map-side partials), a rank
    * window over the per-lang TYPE sliver (vocabulary-bounded, the q49
    * idiom — never over corpus rows), then a per-lang rollup of ≤
    * [[ZipfRankCap]] rows each. The count keys on 16-byte md5 token
    * ids (q133 idiom; rank ties break on the id) — token text never
    * enters an exchange. The moment sums are tie-break invariant (tied
    * terms share c, so any order yields the same (rank, c) multiset),
    * and the oracle mirrors the id tie-break anyway. */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("c").desc, col("h"))
    val terms = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(Dedup.normText(col("text")), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("lang"), unhex(md5(col("t"))).as("h"))
      .agg(count(lit(1)).as("c"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= ZipfRankCap)
      .withColumn("x", log(col("r").cast("double")))
      .withColumn("y", log(col("c").cast("double")))
      .select(col("lang"),
        expr("CAST(round(x * 1e9) AS BIGINT)").as("fx"),
        expr("CAST(round(y * 1e9) AS BIGINT)").as("fy"),
        expr("CAST(round(x * x * 1e9) AS BIGINT)").as("fxx"),
        expr("CAST(round(x * y * 1e9) AS BIGINT)").as("fxy"))
    terms.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_terms"), sum(col("fx")).as("sx"),
        sum(col("fy")).as("sy"), sum(col("fxx")).as("sxx"),
        sum(col("fxy")).as("sxy"))
      .filter(col("n_terms") >= 8)
      .select(col("lang"), col("n_terms"),
        round((col("n_terms").cast("double") * (col("sxy").cast("double") / 1e9)
            - (col("sx").cast("double") / 1e9) * (col("sy").cast("double") / 1e9)) /
          (col("n_terms").cast("double") * (col("sxx").cast("double") / 1e9)
            - (col("sx").cast("double") / 1e9) * (col("sx").cast("double") / 1e9)),
          6).as("zipf_slope"))
  }

  /** Repetition/boilerplate scoring (the Gopher-style within-document
    * duplicate-n-gram gate, Rae et al. 2021): fraction of repeated
    * 2-grams per document. Pure map-side — the dedup family's
    * cross-document machinery is overkill for within-doc repetition. */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(Dedup.normText(col("text")), " "))
      .withColumn("grams", expr(
        """CASE WHEN size(toks) >= 2
          |  THEN transform(sequence(0, size(toks)-2), i -> concat_ws(' ', toks[i], toks[i+1]))
          |  ELSE array() END""".stripMargin))
      .select(col("doc_id"), col("lang"),
        size(col("grams")).as("n_2grams"),
        size(array_distinct(col("grams"))).as("n_uniq_2grams"))
      .withColumn("rep_ratio",
        when(col("n_2grams") > 0,
          lit(1.0) - col("n_uniq_2grams").cast("double") / col("n_2grams"))
          .otherwise(lit(0.0)))
      .withColumn("is_repetitive", col("rep_ratio") > 0.2)

  /** The whole corpus build composed end-to-end (q84): train split →
    * exact dedup → decontamination → quality gate → length gate →
    * token-budget mixing, reported as a per-language survivor funnel —
    * the artifact a corpus build signs off on. Every stage is one of
    * this library's operators (q50/q21/q79/q29/q73/q78 semantics); the
    * composition stays three shuffles (dedup window on the fingerprint,
    * the contamination semi-join, the final aggregate) plus two tiny
    * broadcast-back aggregates for the mix fractions, which are derived
    * from the POST-GATE token mass (the budget balances what actually
    * survives, not the raw corpus). */
  def corpusBuildFunnel(spark: SparkSession, dir: String): DataFrame = {
    val train = Tables.documents(spark, dir).filter(!isEval(col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val contaminated = contaminatedTrainIds(Tables.documents(spark, dir))
    val flagged = train
      .withColumn("fp", md5(Dedup.normText(col("text"))))
      .withColumn("s1", col("doc_id") === min(col("doc_id")).over(w))
      .withColumn("alpha_ratio",
        (length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z]", "")))
          .cast("double") / length(col("text")))
      .withColumn("n_tok", size(split(Dedup.normText(col("text")), " ")))
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("s2", col("s1") && col("is_cont").isNull)
      .withColumn("s3", col("s2") && col("alpha_ratio") >= 0.5)
      .withColumn("s4", col("s3") && col("n_tok") >= 5)
    val mass = flagged.filter(col("s4"))
      .groupBy(col("lang")).agg(sum(col("n_tok")).as("lang_toks"))
    val frac = mass
      .crossJoin(broadcast(mass.agg(min(col("lang_toks")).as("min_toks"))))
      .withColumn("keep_frac",
        least(lit(1.0), col("min_toks").cast("double") / col("lang_toks")))
      .select(col("lang"), col("keep_frac"))
    flagged.join(broadcast(frac), Seq("lang"), "left")
      .withColumn("h",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("s5", col("s4") &&
        col("h").cast("double") < coalesce(col("keep_frac"), lit(0.0)) * 4294967296.0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("n_dedup"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("n_decontam"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("s4"), 1L).otherwise(0L)).as("n_length"),
        sum(when(col("s5"), 1L).otherwise(0L)).as("n_final"),
        sum(when(col("s5"), col("n_tok").cast("long")).otherwise(0L)).as("toks_final"))
  }

  /** Count-min sketch heavy-hitter estimation (Cormode & Muthukrishnan
    * 2005): a DEPTH×WIDTH grid of counters — each token increments one
    * bucket per row, bucket = md5("row:token") — built in ONE pass as a
    * plain groupBy (mergeable across partitions/days by addition; the
    * sketch is ~4 KB regardless of corpus size), then point-estimates
    * for a probe list read min-over-rows without rescanning the corpus.
    * md5 bucketing makes the sketch deterministic and the whole
    * pipeline oracle-checkable; CMS never underestimates
    * (CurationOpsSpec asserts est ≥ exact on every probe). */
  private val CmsDepth = 4
  // width is 256 buckets, encoded as the `substring(md5(...), 1, 2)`
  // two-hex-char literals below (16² = 256) — no separate constant, so
  // the width can't silently disagree with the bucket expression

  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(split(Dedup.normText(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    // one corpus pass: every token lands in CmsDepth buckets
    val sketch = toks
      .select(explode(expr(
        s"""transform(sequence(0, ${CmsDepth - 1}),
           |  r -> struct(r AS r, substring(md5(concat(CAST(r AS STRING), ':', tok)), 1, 2) AS bucket))"""
          .stripMargin)).as("cell"))
      .groupBy(col("cell.r").as("r"), col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("n"))
    // probe WITHOUT touching the corpus again: min over depth rows
    val probes = (stopEn ++ Seq("zqxjk", "training")).distinct
    val probeDf = spark.createDataFrame(probes.map(Tuple1(_))).toDF("tok")
      .withColumn("cell", explode(expr(
        s"""transform(sequence(0, ${CmsDepth - 1}),
           |  r -> struct(r AS r, substring(md5(concat(CAST(r AS STRING), ':', tok)), 1, 2) AS bucket))"""
          .stripMargin)))
      .select(col("tok"), col("cell.r").as("r"), col("cell.bucket").as("bucket"))
    probeDf.join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy(col("tok"))
      .agg(min(coalesce(col("n"), lit(0L))).as("est_count"))
  }

  private def hitsSql(xs: Seq[String]) =
    s"len(list_filter(toks, x -> x IN (${inList(xs)})))"

  private val toksSql =
    "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"

  /** The q29 quality functional as a standalone (doc_id, quality)
    * subquery — shared with q129's dedup-apply oracle so "quality" means
    * one thing across the library. */
  private[graft] def qualitySql: String =
    s"""SELECT doc_id,
       |  0.5 * (CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE) / length(text))
       |    + 0.3 * (CAST(${hitsSql(stopEn)} AS DOUBLE) / len(toks))
       |    + 0.2 * least(CAST(len(toks) AS DOUBLE) / 20.0, 1.0) AS quality
       |FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)""".stripMargin

  /** PII-redaction regex classes, ordered so classes can't shadow each
    * other (emails carry short digit runs; IPs carry dots that break
    * the long-digit-run class): email → IPv4 → ≥9-digit runs. Written
    * in the Java/RE2 COMMON subset so Spark and DuckDB compile the
    * identical automaton. */
  private val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PiiNum = "\\d{9,}"

  /** q120: PII redaction with removal accounting — the scrub step every
    * public-corpus pipeline runs before training: emails, IPv4s, and
    * long digit runs (card/SSN-shaped) replaced by class tokens, with a
    * per-document count per class for the curation report. All
    * codegen'd regexp ops, map-side, no shuffle.
    *
    * The synthetic corpus carries no PII, so the query first PLANTS
    * deterministic markers on mod-keyed docs and then removes them —
    * the oracle mirrors both halves, and CurationOpsSpec asserts the
    * scrubbed output is marker-free, so the patterns are exercised
    * rather than vacuously green (contrast q60, whose URL/email classes
    * simply never fire on this corpus). */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir).select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 7 === 0, lit(" reach me at user7@example.com"))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" logged from 192.168.1.77"))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit(" card 4111111111111111"))
        .otherwise(lit(""))).as("t0"))
    planted.select(col("doc_id"),
      regexp_count(col("t0"), lit(PiiEmail)).cast("long").as("n_email"),
      regexp_count(col("t0"), lit(PiiIp)).cast("long").as("n_ip"),
      // count digit runs AFTER the ip class is gone, like the replace
      regexp_count(regexp_replace(col("t0"), PiiIp, "<IP>"), lit(PiiNum))
        .cast("long").as("n_num"),
      regexp_replace(regexp_replace(regexp_replace(col("t0"),
        PiiEmail, "<EMAIL>"), PiiIp, "<IP>"), PiiNum, "<NUM>").as("scrubbed"))
  }

  /** q131: distribution-drift monitor — flags sources whose language mix
    * diverges from the corpus baseline by Pearson's chi-square, the
    * ingest-quality alarm ("this crawl slice suddenly isn't the usual
    * language blend") every continuously-fed corpus needs. Two tiny
    * aggregates (corpus mix, per-source mix), baseline broadcast back,
    * map-side terms.
    *
    * Determinism: all counts are exact; each term (o−e)²/e is a fixed
    * IEEE expression; and the PER-SOURCE SUM runs over a SORTED term
    * array folded left-to-right, so the float summation order — the one
    * thing a distributed double-sum does NOT pin — is identical in both
    * engines and across any partitioning. Rounded at 6 dp for the usual
    * belt (q49 precedent). df = 3 langs − 1; the 95% cut 7.815 flags
    * drift. */
  def langDrift(spark: SparkSession, dir: String,
                chi2Cut: Double = 7.815): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("source"), col("lang"))
    val corpus = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val perSource = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("o"))
    val srcTotals = perSource.groupBy(col("source")).agg(sum(col("o")).as("n_src"))
    perSource
      .join(srcTotals, "source")
      .join(broadcast(corpus), "lang")
      .crossJoin(broadcast(total))
      .withColumn("e", col("n_src").cast("double") * col("n_lang").cast("double")
        / col("n_total").cast("double"))
      .withColumn("term",
        (col("o").cast("double") - col("e")) * (col("o").cast("double") - col("e"))
          / col("e"))
      .groupBy(col("source"), col("n_src"))
      .agg(sort_array(collect_list(struct(col("lang"), col("term")))).as("ts"))
      .select(col("source"), col("n_src").as("n_docs"),
        round(expr("aggregate(ts, CAST(0 AS DOUBLE), (acc, x) -> acc + x.term)"), 6)
          .as("chi2"))
      .withColumn("drifted", col("chi2") > chi2Cut)
  }

  /** q164: positional inverted index + exact PHRASE query — the
    * index-side primitive under corpus search/audit tooling (and the
    * substrate BM25-style retrieval (q94) lacks: q94 ranks bags of
    * words, this matches exact token SEQUENCES, e.g. auditing how often
    * a fixed boilerplate phrase or benchmark prompt appears and where).
    * The queried phrase is data-derived and deterministic: the corpus's
    * most frequent token trigram (ties → lexicographically smallest),
    * so the operator self-demonstrates on any corpus.
    *
    * Shape: postings (tok, doc, pos) are one map-side posexplode; the
    * phrase plan is the classic intersect-postings-with-offset — each
    * phrase word's postings are a broadcast-filtered sliver of the
    * index (the 1-row phrase frame broadcast onto the token stream),
    * then two equi-joins on (doc, pos±i) stitch adjacency. Work is
    * proportional to the matched words' posting lists, never the
    * corpus; no window, no regex over text. At 100 TB the postings
    * frame is the thing you'd persist bucketed by token; the query
    * side of this plan is unchanged by corpus size for a fixed phrase
    * frequency. */
  def phraseIndex(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), split(Dedup.normText(col("text")), " ").as("toks"))
    val post = d.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    // top corpus trigram: one agg + bounded top-1 (TakeOrderedAndProject)
    val tri = d.select(explode(expr(
        """CASE WHEN size(toks) >= 3
          |  THEN transform(sequence(0, size(toks)-3),
          |         i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
          |  ELSE array() END""".stripMargin)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cg"))
      .orderBy(desc("cg"), asc("g")).limit(1)
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"),
        split(col("g"), " ").getItem(2).as("w3"))
    val p1 = post.join(broadcast(tri), col("tok") === col("w1"))
      .select(col("doc_id"), col("pos"))
    val p2 = post.join(broadcast(tri), col("tok") === col("w2"))
      .select(col("doc_id").as("d2"), col("pos").as("pos2"))
    val p3 = post.join(broadcast(tri), col("tok") === col("w3"))
      .select(col("doc_id").as("d3"), col("pos").as("pos3"))
    p1.join(p2, col("d2") === col("doc_id") && col("pos2") === col("pos") + 1)
      .join(p3, col("d3") === col("doc_id") && col("pos3") === col("pos") + 2)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
  }

  val oracle: Map[String, String] = Map(
    "q164_phrase_index" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |post AS MATERIALIZED (
        |  SELECT doc_id, i AS pos, toks[i + 1] AS tok
        |  FROM d, LATERAL (SELECT unnest(range(0, len(toks))) AS i)
        |  WHERE toks[i + 1] <> ''),
        |tri AS (
        |  SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
        |    string_split(g, ' ')[3] AS w3
        |  FROM (
        |    SELECT g, count(*) AS cg FROM (
        |      SELECT unnest(list_transform(range(0, greatest(len(toks) - 2, 0)),
        |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS g
        |      FROM d)
        |    GROUP BY 1)
        |  ORDER BY cg DESC, g LIMIT 1)
        |SELECT doc_id, count(*) AS n_hits, min(pos) AS first_pos FROM (
        |  SELECT p1.doc_id, p1.pos
        |  FROM tri t
        |  JOIN post p1 ON p1.tok = t.w1
        |  JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        |    AND p2.tok = t.w2
        |  JOIN post p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
        |    AND p3.tok = t.w3)
        |GROUP BY 1""".stripMargin,
    "q142_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |f AS (SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(length(array_to_string(toks, '')) AS BIGINT) AS n_chars,
         |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words,
         |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[#…]'))) AS BIGINT) AS n_symbol_words,
         |    CAST(len(list_intersect(list_distinct(toks), [${inList(stopEn)}])) AS BIGINT) AS n_stop_distinct
         |  FROM t),
         |r AS (SELECT *,
         |    CAST(n_chars AS DOUBLE) / n_words AS mean_word_len,
         |    CAST(n_alpha_words AS DOUBLE) / n_words AS frac_alpha_words,
         |    CAST(n_symbol_words AS DOUBLE) / n_words AS symbol_ratio
         |  FROM f)
         |SELECT doc_id, n_words, n_chars, n_alpha_words, n_symbol_words,
         |  n_stop_distinct, mean_word_len, frac_alpha_words, symbol_ratio,
         |  n_words >= 50 AND n_words <= 100000 AS r_word_count,
         |  mean_word_len >= 3.0e0 AND mean_word_len <= 10.0e0 AS r_mean_word_len,
         |  frac_alpha_words >= 0.8e0 AS r_alpha,
         |  symbol_ratio <= 0.1e0 AS r_symbol,
         |  n_stop_distinct >= 2 AS r_stopwords,
         |  (n_words >= 50 AND n_words <= 100000)
         |    AND (mean_word_len >= 3.0e0 AND mean_word_len <= 10.0e0)
         |    AND frac_alpha_words >= 0.8e0 AND symbol_ratio <= 0.1e0
         |    AND n_stop_distinct >= 2 AS pass
         |FROM r""".stripMargin,
    "q131_lang_drift" ->
      """WITH d AS (SELECT source, lang FROM documents),
        |corpus AS (SELECT lang, count(*) AS n_lang FROM d GROUP BY 1),
        |total AS (SELECT count(*) AS n_total FROM d),
        |per AS (SELECT source, lang, count(*) AS o FROM d GROUP BY 1, 2),
        |st AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_src FROM per GROUP BY 1),
        |terms AS (
        |  SELECT source, n_src, lang,
        |    (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS term
        |  FROM (SELECT per.source, per.lang, o, n_src,
        |          CAST(n_src AS DOUBLE) * CAST(n_lang AS DOUBLE) / CAST(n_total AS DOUBLE) AS e
        |        FROM per JOIN st USING (source) JOIN corpus USING (lang) CROSS JOIN total))
        |SELECT source, n_src AS n_docs, chi2, chi2 > 7.815e0 AS drifted FROM (
        |  SELECT source, n_src,
        |    round(list_sum(list(term ORDER BY lang)), 6) AS chi2
        |  FROM terms GROUP BY 1, 2)""".stripMargin,
    "q120_pii_scrub" ->
      """WITH planted AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' reach me at user7@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' logged from 192.168.1.77' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN ' card 4111111111111111' ELSE '' END AS t0
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t0, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(t0, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\d{9,}')) AS BIGINT) AS n_num,
        |  regexp_replace(regexp_replace(regexp_replace(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\d{9,}', '<NUM>', 'g') AS scrubbed
        |FROM planted""".stripMargin,
    "q28_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |h AS (SELECT doc_id, lang,
         |  ${hitsSql(stopEn)} AS en, ${hitsSql(stopEs)} AS es,
         |  ${hitsSql(stopFr)} AS fr, ${hitsSql(stopDe)} AS de FROM t)
         |SELECT *, CASE WHEN en >= es AND en >= fr AND en >= de AND en > 0 THEN 'en'
         |     WHEN es >= fr AND es >= de AND es > 0 THEN 'es'
         |     WHEN fr >= de AND fr > 0 THEN 'fr'
         |     WHEN de > 0 THEN 'de'
         |     ELSE 'und' END AS lang_guess
         |FROM h""".stripMargin,
    "q29_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  length(text) AS text_len,
         |  len(toks) AS n_tok,
         |  length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS n_alpha,
         |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         |  ${hitsSql(stopEn)} AS stop_hits
         |FROM t)
         |SELECT *,
         |  CAST(n_alpha AS DOUBLE) / text_len AS alpha_ratio,
         |  CAST(stop_hits AS DOUBLE) / n_tok AS stop_ratio,
         |  0.5 * (CAST(n_alpha AS DOUBLE) / text_len)
         |    + 0.3 * (CAST(stop_hits AS DOUBLE) / n_tok)
         |    + 0.2 * least(CAST(n_tok AS DOUBLE) / 20.0, 1.0) AS quality,
         |  (0.5 * (CAST(n_alpha AS DOUBLE) / text_len)
         |    + 0.3 * (CAST(stop_hits AS DOUBLE) / n_tok)
         |    + 0.2 * least(CAST(n_tok AS DOUBLE) / 20.0, 1.0)) < 0.5 AS low_quality
         |FROM m""".stripMargin,
    "q30_token_stats" ->
      """SELECT doc_id, source,
        |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens,
        |  len(list_distinct(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS n_uniq_tokens
        |FROM documents""".stripMargin,
    "q49_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY 1, 2),
         |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
         |    round(CAST(tf.tf AS DOUBLE) * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 6) AS tfidf
         |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n)
         |SELECT doc_id, tok, tf, df, tfidf, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
         |  FROM scored)
         |WHERE rn <= 3""".stripMargin,
    "q84_corpus_build_funnel" ->
      """WITH train AS (
        |  SELECT * FROM documents WHERE md5(CAST(doc_id AS VARCHAR)) < 'e6'),
        |evsh AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |      range(0, greatest(len(t)-2, 0)),
        |      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS shingle
        |  FROM (SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |        FROM documents WHERE md5(CAST(doc_id AS VARCHAR)) >= 'e6')),
        |trsh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |      range(0, greatest(len(t)-2, 0)),
        |      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS shingle
        |  FROM (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |        FROM train)),
        |cont AS (SELECT DISTINCT doc_id FROM trsh JOIN evsh USING (shingle)),
        |f AS (
        |  SELECT t.lang, t.doc_id,
        |    md5(lower(trim(regexp_replace(t.text, '\s+', ' ', 'g')))) AS fp,
        |    CAST(length(t.text) - length(regexp_replace(t.text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
        |      / length(t.text) AS alpha_ratio,
        |    len(string_split(lower(trim(regexp_replace(t.text, '\s+', ' ', 'g'))), ' ')) AS n_tok,
        |    cont.doc_id IS NOT NULL AS is_cont
        |  FROM train t LEFT JOIN cont ON cont.doc_id = t.doc_id),
        |g AS (SELECT *, doc_id = min(doc_id) OVER (PARTITION BY fp) AS s1 FROM f),
        |g2 AS (
        |  SELECT *, s1 AND NOT is_cont AS s2,
        |    s1 AND NOT is_cont AND alpha_ratio >= 0.5 AS s3,
        |    s1 AND NOT is_cont AND alpha_ratio >= 0.5 AND n_tok >= 5 AS s4
        |  FROM g),
        |mass AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS lang_toks FROM g2 WHERE s4 GROUP BY 1),
        |fr AS (
        |  SELECT lang,
        |    least(1.0, CAST((SELECT min(lang_toks) FROM mass) AS DOUBLE) / lang_toks) AS keep_frac
        |  FROM mass),
        |g3 AS (
        |  SELECT g2.*,
        |    g2.s4 AND CAST(CAST('0x' || substring(md5(CAST(g2.doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
        |      < coalesce(fr.keep_frac, 0.0) * 4294967296.0 AS s5
        |  FROM g2 LEFT JOIN fr USING (lang))
        |SELECT lang, count(*) AS n_train,
        |  CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
        |  CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_decontam,
        |  CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n_length,
        |  CAST(sum(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
        |  CAST(sum(CASE WHEN s5 THEN n_tok ELSE 0 END) AS BIGINT) AS toks_final
        |FROM g3 GROUP BY 1""".stripMargin,
    "q81_heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT unnest($toksSql) AS tok FROM documents),
         |t AS (SELECT tok FROM toks WHERE tok <> ''),
         |cells AS (
         |  SELECT r, substring(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 2) AS bucket
         |  FROM t, (SELECT unnest(range(0, 4)) AS r)),
         |sketch AS (SELECT r, bucket, count(*) AS n FROM cells GROUP BY 1, 2),
         |probes AS (SELECT unnest([${(stopEn ++ Seq("zqxjk", "training")).distinct.map(s => s"'$s'").mkString(", ")}]) AS tok),
         |pcells AS (
         |  SELECT tok, r, substring(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 2) AS bucket
         |  FROM probes, (SELECT unnest(range(0, 4)) AS r))
         |SELECT tok, CAST(min(coalesce(n, 0)) AS BIGINT) AS est_count
         |FROM pcells LEFT JOIN sketch USING (r, bucket)
         |GROUP BY 1""".stripMargin,
    "q79_decontaminate" ->
      """WITH sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(t)-2, 0)),
        |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS shingle
        |  FROM (SELECT doc_id,
        |        string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |        FROM documents)),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE md5(CAST(doc_id AS VARCHAR)) >= 'e6'),
        |cont AS (SELECT DISTINCT doc_id FROM sh JOIN ev USING (shingle)
        |         WHERE md5(CAST(doc_id AS VARCHAR)) < 'e6')
        |SELECT lang, count(*) AS n_train,
        |  CAST(sum(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  count(*) - CAST(sum(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        |FROM documents d LEFT JOIN cont ON cont.doc_id = d.doc_id
        |WHERE md5(CAST(d.doc_id AS VARCHAR)) < 'e6'
        |GROUP BY 1""".stripMargin,
    "q78_token_budget_mix" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS n_tok
        |  FROM documents),
        |pl AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS lang_toks FROM d GROUP BY 1),
        |m AS (SELECT min(lang_toks) AS min_toks FROM pl),
        |f AS (SELECT lang, lang_toks,
        |        least(1.0, CAST(min_toks AS DOUBLE) / lang_toks) AS keep_frac
        |      FROM pl, m),
        |k AS (SELECT d.lang, d.n_tok, f.lang_toks, f.keep_frac,
        |        CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
        |      FROM d JOIN f USING (lang))
        |SELECT lang, count(*) AS n_docs, max(lang_toks) AS lang_toks,
        |  max(keep_frac) AS keep_frac,
        |  CAST(sum(CASE WHEN CAST(h AS DOUBLE) < keep_frac * 4294967296.0 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        |  CAST(sum(CASE WHEN CAST(h AS DOUBLE) < keep_frac * 4294967296.0 THEN n_tok ELSE 0 END) AS BIGINT) AS kept_toks
        |FROM k GROUP BY 1""".stripMargin,
    "q80_repetition" ->
      """WITH g AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(t) >= 2
        |      THEN list_transform(range(0, len(t)-1), i -> t[i+1] || ' ' || t[i+2])
        |      ELSE [] END AS grams
        |  FROM (SELECT doc_id, lang,
        |        string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |        FROM documents))
        |SELECT doc_id, lang,
        |  CAST(len(grams) AS INT) AS n_2grams,
        |  CAST(len(list_distinct(grams)) AS INT) AS n_uniq_2grams,
        |  CASE WHEN len(grams) > 0
        |    THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
        |    ELSE 0.0 END AS rep_ratio,
        |  CASE WHEN len(grams) > 0
        |    THEN (1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)) > 0.2
        |    ELSE FALSE END AS is_repetitive
        |FROM g""".stripMargin,
    "q50_hash_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6' THEN 'train' ELSE 'eval' END AS split
        |FROM documents""".stripMargin,
    "q51_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CASE WHEN lang = 'en' THEN md5(CAST(doc_id AS VARCHAR)) < 'c0'
        |           ELSE md5(CAST(doc_id AS VARCHAR)) < '40' END""".stripMargin,
    "q73_curation_summary" ->
      """WITH base AS (
        |  SELECT lang, doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |    CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
        |      / length(text) AS alpha_ratio,
        |    len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS n_tok
        |  FROM documents),
        |flagged AS (
        |  SELECT lang,
        |    doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup,
        |    alpha_ratio < 0.5 AS is_lowq,
        |    n_tok < 5 AS is_short
        |  FROM base)
        |SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes,
        |  CAST(sum(CASE WHEN NOT is_dup AND is_lowq THEN 1 ELSE 0 END) AS BIGINT) AS n_lowq,
        |  CAST(sum(CASE WHEN NOT is_dup AND NOT is_lowq AND is_short THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |  CAST(sum(CASE WHEN NOT is_dup AND NOT is_lowq AND NOT is_short THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM flagged GROUP BY 1""".stripMargin,
    "q60_text_clean" ->
      """WITH c AS (SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      text,
        |      'https?://[^\s]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'),
        |      '\s+', ' ', 'g')) AS cleaned
        |  FROM documents)
        |SELECT doc_id,
        |  length(text) AS len_before,
        |  length(cleaned) AS len_after,
        |  md5(cleaned) AS clean_fp,
        |  length(text) - length(cleaned) AS removed
        |FROM c""".stripMargin,
    "q31_fingerprint" ->
      """WITH t AS (SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS fp,
        |  list_min(list_transform(range(0, greatest(len(toks)-2, 0)),
        |    i -> md5(toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS min_shingle_fp
        |FROM t""".stripMargin,
    "q167_temperature_mix" ->
      """WITH pl AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |w AS (SELECT lang, n_docs,
        |        CAST(round(pow(CAST(n_docs AS DOUBLE), 0.3) * 1e6) AS BIGINT) AS w_fp
        |      FROM pl),
        |t AS (SELECT CAST(sum(w_fp) AS BIGINT) AS w_tot,
        |        CAST(sum(n_docs) AS BIGINT) AS n_tot FROM w),
        |f AS (SELECT lang, n_docs,
        |        CAST(w_fp AS DOUBLE) / w_tot AS p_temp,
        |        CAST(round(CAST(w_fp AS DOUBLE) / w_tot * n_tot) AS BIGINT) AS target_docs
        |      FROM w, t),
        |g AS (SELECT lang, n_docs, p_temp, target_docs,
        |        least(1.0, CAST(target_docs AS DOUBLE) / n_docs) AS keep_frac FROM f),
        |k AS (SELECT d.lang, g.n_docs, g.p_temp, g.target_docs, g.keep_frac,
        |        CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
        |      FROM documents d JOIN g USING (lang))
        |SELECT lang, max(n_docs) AS n_docs, round(max(p_temp), 6) AS p_temp,
        |  max(target_docs) AS target_docs, round(max(keep_frac), 6) AS keep_frac,
        |  CAST(sum(CASE WHEN CAST(h AS DOUBLE) < keep_frac * 4294967296.0 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs
        |FROM k GROUP BY 1""".stripMargin,
    "q169_overlap_decontam" ->
      s"""WITH sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(0, greatest(len(t)-2, 0)),
         |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS shingle
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
         |tr AS (SELECT doc_id AS t_id, shingle FROM sh WHERE md5(CAST(doc_id AS VARCHAR)) < 'e6'),
         |ev AS (SELECT doc_id AS e_id, shingle FROM sh WHERE md5(CAST(doc_id AS VARCHAR)) >= 'e6'),
         |es AS (SELECT e_id, count(*) AS e_sh FROM ev GROUP BY 1),
         |it AS (SELECT t_id, e_id, count(*) AS n_inter FROM tr JOIN ev USING (shingle) GROUP BY 1, 2),
         |sc AS (SELECT t_id, e_id, n_inter, e_sh,
         |         round(CAST(n_inter AS DOUBLE) / e_sh, 6) AS overlap
         |       FROM it JOIN es USING (e_id))
         |SELECT t_id AS doc_id, e_id AS best_eval, n_inter, e_sh, overlap,
         |  overlap >= 0.5 AS is_cont
         |FROM (SELECT *, row_number() OVER (PARTITION BY t_id ORDER BY overlap DESC, e_id) AS rn
         |      FROM sc)
         |WHERE rn = 1""".stripMargin,
    "q172_entropy_gate" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, toks, len(toks) AS n FROM (
         |    SELECT doc_id, lang, list_filter($toksSql, x -> x <> '') AS toks
         |    FROM documents)),
         |s AS (SELECT doc_id, lang, n, len(list_distinct(toks)) AS n_uniq,
         |        CAST(coalesce(list_sum(list_transform(list_distinct(toks), t2 ->
         |          CAST(round(-(len(list_filter(toks, x -> x = t2)) / CAST(n AS DOUBLE))
         |                * ln(len(list_filter(toks, x -> x = t2)) / CAST(n AS DOUBLE)) * 1e9)
         |            AS BIGINT))), 0) AS BIGINT) AS ent_fp
         |      FROM t)
         |SELECT doc_id, lang, CAST(n AS BIGINT) AS n_tok,
         |  CAST(n_uniq AS BIGINT) AS n_uniq, ent_fp,
         |  CAST(ent_fp AS DOUBLE) / 1e9 AS ent,
         |  ent_fp < 2500000000 AS is_low_entropy
         |FROM s""".stripMargin,
    "q173_ppmi_topk" ->
      s"""WITH pr AS (
         |  SELECT p.a AS a, p.b AS b FROM (
         |    SELECT unnest(CASE WHEN len(toks) >= 2 THEN
         |      flatten(list_transform(range(0, len(toks)-1), i ->
         |        CASE WHEN i + 2 <= len(toks)-1
         |          THEN [{'a': toks[i+1], 'b': toks[i+2]}, {'a': toks[i+1], 'b': toks[i+3]}]
         |          ELSE [{'a': toks[i+1], 'b': toks[i+2]}] END))
         |      ELSE [] END) AS p
         |    FROM (SELECT $toksSql AS toks FROM documents))
         |  WHERE p.a <> '' AND p.b <> ''),
         |cab AS (SELECT a, b, count(*) AS c_ab FROM pr GROUP BY 1, 2),
         |ca AS (SELECT a, count(*) AS c_a FROM pr GROUP BY 1),
         |cb AS (SELECT b, count(*) AS c_b FROM pr GROUP BY 1),
         |tot AS (SELECT count(*) AS n_pairs FROM pr),
         |sc AS (SELECT cab.a, cab.b, c_ab, c_a, c_b,
         |         round(greatest(ln(CAST(c_ab AS DOUBLE) * n_pairs / (CAST(c_a AS DOUBLE) * c_b)), 0.0), 6) AS ppmi
         |       FROM cab JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN tot
         |       WHERE c_ab >= 3)
         |SELECT a, b, c_ab, c_a, c_b, ppmi, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY a ORDER BY ppmi DESC, b) AS rn
         |  FROM sc)
         |WHERE rn <= 3 AND ppmi > 0.0""".stripMargin,
    // q187: the oracle recomputes the SAME md5-derived hyperplanes and
    // replays the identical adaptive-width banding (integer r scan),
    // mean-centering stats, English-side md5 population cap — as the
    // bitextBucketCap(n) RULE (greatest(256, count(w) // 4096)), not a
    // frozen constant, so the gate checks the scaling rule itself —
    // DISTINCT candidate set, and top-2 rerank (default: no multiprobe).
    "q187_bitext_mining" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang, list_transform($toksSql, t ->
         |    {'d': CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % 16,
         |     's': CASE WHEN substring(md5(t), 9, 1) < '8' THEN 1 ELSE -1 END}) AS hs
         |  FROM documents),
         |vv AS (SELECT doc_id, lang, list_transform(range(0, 16), j ->
         |        CAST(len(list_filter(hs, p -> p.d = j AND p.s = 1))
         |           - len(list_filter(hs, p -> p.d = j AND p.s = -1)) AS BIGINT)) AS v
         |      FROM h),
         |w AS MATERIALIZED (SELECT doc_id, lang, v,
         |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
         |  FROM vv
         |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
         |par AS (SELECT coalesce(min(r), ${BitextMaxBandBits}) AS r
         |  FROM (SELECT unnest(range(${BitextMinBandBits}, ${BitextMaxBandBits + 1})) AS r)
         |  WHERE (CAST(64 AS BIGINT) << r) >= (SELECT count(*) FROM w)),
         |stats AS (SELECT (SELECT count(*) FROM w) AS nn,
         |  (SELECT list(sv ORDER BY i) FROM (
         |     SELECT i, CAST(sum(v[CAST(i + 1 AS INT)]) AS BIGINT) AS sv
         |     FROM w, (SELECT unnest(range(0, 16)) AS i) ii GROUP BY i)) AS s),
         |planes AS (
         |  SELECT p, list_transform(range(0, 16),
         |    i -> CASE WHEN substring(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) < '8'
         |              THEN 1 ELSE -1 END) AS coef
         |  FROM (SELECT unnest(range(0, ${BitextBands} * (SELECT r FROM par))) AS p)),
         |bits AS (
         |  SELECT w.doc_id, planes.p,
         |    CASE WHEN stats.nn * list_sum(list_transform(range(0, 16), k -> w.v[k+1] * planes.coef[k+1]))
         |           - list_sum(list_transform(range(0, 16), k -> stats.s[k+1] * planes.coef[k+1])) >= 0
         |         THEN 1 ELSE 0 END AS bit
         |  FROM w, planes, stats),
         |bk AS MATERIALIZED (
         |  SELECT doc_id, p // (SELECT r FROM par) AS band,
         |    CAST(sum(CAST(bit AS BIGINT)
         |      << CAST((SELECT r FROM par) - 1 - (p % (SELECT r FROM par)) AS INT)) AS BIGINT) AS bv
         |  FROM bits GROUP BY 1, 2),
         |enb AS (SELECT bk.doc_id AS en_id, band, bv
         |  FROM bk JOIN w ON w.doc_id = bk.doc_id WHERE w.lang = 'en'),
         |encnt AS (SELECT band, bv, count(*) AS cb FROM enb GROUP BY 1, 2),
         |encap AS (SELECT en_id, band, bv FROM enb JOIN encnt USING (band, bv)
         |  WHERE CAST('0x' || substring(md5(CAST(en_id AS VARCHAR) || ':' || CAST(band AS VARCHAR)), 1, 8) AS BIGINT)
         |          % cb < greatest(${BitextBucketCap}, (SELECT count(*) FROM w) // ${BitextCapDivisor})),
         |tb AS (SELECT bk.doc_id AS t_id, band, bv
         |  FROM bk JOIN w ON w.doc_id = bk.doc_id WHERE w.lang <> 'en'),
         |cand AS (SELECT DISTINCT t_id, en_id FROM tb JOIN encap USING (band, bv)),
         |pairs AS (SELECT c.t_id, t.lang, c.en_id,
         |    CAST(CAST(list_sum(list_transform(range(0, 16), i ->
         |        t.v[CAST(i + 1 AS INT)] * e.v[CAST(i + 1 AS INT)])) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(t.n2 AS DOUBLE)) * sqrt(CAST(e.n2 AS DOUBLE))) AS cos
         |  FROM cand c JOIN w t ON t.doc_id = c.t_id JOIN w e ON e.doc_id = c.en_id),
         |rk AS MATERIALIZED (SELECT *,
         |    row_number() OVER (PARTITION BY t_id ORDER BY cos DESC, en_id) AS rn
         |  FROM pairs)
         |SELECT a.t_id, a.lang, a.en_id, round(a.cos, 6) AS cos,
         |  round(a.cos - coalesce(b.cos, CAST(0 AS DOUBLE)), 6) AS margin
         |FROM rk a LEFT JOIN rk b ON b.t_id = a.t_id AND b.rn = 2
         |WHERE a.rn = 1 AND round(a.cos, 6) >= 0.5""".stripMargin,
    "q186_source_lang_kl" ->
      """WITH sl AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sl GROUP BY 1),
        |l AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nl FROM sl GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM sl),
        |t AS (SELECT source, ns,
        |        CAST(round((c / CAST(ns AS DOUBLE))
        |          * ln((c / CAST(ns AS DOUBLE)) / (nl / CAST(n AS DOUBLE)))
        |          * 1e9) AS BIGINT) AS fp
        |      FROM sl JOIN s USING (source) JOIN l USING (lang) CROSS JOIN tot)
        |SELECT source, ns AS n_docs,
        |  round(CAST(sum(fp) AS DOUBLE) / 1e9, 6) AS kl
        |FROM t GROUP BY 1, 2""".stripMargin,
    // q174/q175: type counts key on unhex(md5(gram)) exactly like the
    // Spark side — same grouping even in the (negligible) collision
    // case, and raw text never shuffles in either engine.
    "q174_ngram_diversity" ->
      s"""WITH t AS (
         |  SELECT lang, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |tc AS (SELECT lang, unhex(md5(t)) AS h, count(*) AS c
         |       FROM (SELECT lang, unnest(toks) AS t FROM t) GROUP BY 1, 2),
         |tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tok,
         |         count(*) AS n_types FROM tc GROUP BY 1),
         |gc AS (SELECT lang, unhex(md5(g)) AS h, count(*) AS c FROM (
         |         SELECT lang, unnest(CASE WHEN len(toks) >= 3 THEN
         |           list_transform(range(0, len(toks)-2), i ->
         |             toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
         |           ELSE [] END) AS g
         |         FROM t) GROUP BY 1, 2),
         |gl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_3grams,
         |         count(*) AS n_3gram_types FROM gc GROUP BY 1)
         |SELECT tl.lang, n_tok, n_types,
         |  round(CAST(n_types AS DOUBLE) / n_tok, 6) AS ttr,
         |  coalesce(n_3grams, 0) AS n_3grams,
         |  coalesce(n_3gram_types, 0) AS n_3gram_types,
         |  coalesce(round(CAST(n_3gram_types AS DOUBLE) / n_3grams, 6), 0.0) AS div_3gram
         |FROM tl LEFT JOIN gl USING (lang)""".stripMargin,
    "q175_zipf_slope" ->
      s"""WITH tc AS (
         |  SELECT lang, unhex(md5(t)) AS h, count(*) AS c FROM (
         |    SELECT lang, unnest(list_filter($toksSql, x -> x <> '')) AS t
         |    FROM documents) GROUP BY 1, 2),
         |rk AS (SELECT lang, c,
         |         row_number() OVER (PARTITION BY lang ORDER BY c DESC, h) AS r
         |       FROM tc),
         |fp AS (SELECT lang,
         |         CAST(round(ln(CAST(r AS DOUBLE)) * 1e9) AS BIGINT) AS fx,
         |         CAST(round(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT) AS fy,
         |         CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) * 1e9) AS BIGINT) AS fxx,
         |         CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT) AS fxy
         |       FROM rk WHERE r <= ${ZipfRankCap}),
         |mo AS (SELECT lang, count(*) AS n_terms,
         |         CAST(sum(fx) AS BIGINT) AS sx, CAST(sum(fy) AS BIGINT) AS sy,
         |         CAST(sum(fxx) AS BIGINT) AS sxx, CAST(sum(fxy) AS BIGINT) AS sxy
         |       FROM fp GROUP BY 1)
         |SELECT lang, n_terms,
         |  round((CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e9)
         |      - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9)) /
         |    (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e9)
         |      - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9)),
         |    6) AS zipf_slope
         |FROM mo WHERE n_terms >= 8""".stripMargin,
    "q170_hash_embed" ->
      s"""WITH h AS (
         |  SELECT doc_id, list_transform($toksSql, t ->
         |    {'d': CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % 16,
         |     's': CASE WHEN substring(md5(t), 9, 1) < '8' THEN 1 ELSE -1 END}) AS hs
         |  FROM documents),
         |v AS (SELECT doc_id, list_transform(range(0, 16), j ->
         |        CAST(len(list_filter(hs, p -> p.d = j AND p.s = 1))
         |           - len(list_filter(hs, p -> p.d = j AND p.s = -1)) AS BIGINT)) AS v
         |      FROM h)
         |SELECT doc_id,
         |  array_to_string(list_transform(v, x -> CAST(x AS VARCHAR)), ' ') AS vec,
         |  CAST(round(sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE)) * 1e6) AS BIGINT) AS l2_fp
         |FROM v""".stripMargin,
  )
}
