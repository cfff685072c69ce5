package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece) tokenizer trainer + encoder — Kudo,
  * "Subword Regularization: Improving Neural Network Translation Models
  * with Multiple Subword Candidates" (ACL 2018) — the OTHER tokenizer
  * family next to BPE (q134/q137): instead of greedy bottom-up merges,
  * a unigram language model over a seed-substring vocabulary is fit by
  * EM and each word is segmented by Viterbi under the fitted piece
  * scores. This implementation is the hard-EM (Viterbi-EM) variant:
  * the E-step keeps only each word's BEST segmentation — fully
  * deterministic, which is what makes the whole chain oracle-checkable
  * row-for-row (soft-EM expectations would need float lattice sums
  * with engine-specific summation order).
  *
  * Determinism design (the q95/q150 rounded-fixed-point convention):
  * piece scores are FIXED-POINT log-probabilities,
  * lp = round(ln(c/N)·10⁴) as BIGINT, computed from exact integer
  * counts — the one ln call per (c, N) pair is the only float op, and
  * a cross-engine ULP difference flips the 10⁻⁴-grid rounding only if
  * the true value sits within ~10⁻¹⁵ of a grid midpoint. Everything
  * downstream — Viterbi DP sums, argmax comparisons, tie-breaks
  * (score, then lower start position) — is exact BIGINT arithmetic,
  * so Spark and DuckDB agree bit-for-bit.
  *
  * Scale shape (the q134 corpus-touched-once discipline): documents
  * are tokenized ONCE into the distinct-word count table (one
  * shuffle); seed counting, every EM round, and the final encode all
  * operate on distinct WORDS (vocabulary-sized, ≪ corpus in any
  * natural-language corpus — Heaps' law). Each round is one broadcast
  * join of the word table against the piece table plus a map-side
  * per-word Viterbi (a single HOF fold over ≤ MaxWordLen positions —
  * no per-word shuffle, no window), then one piece-count aggregation.
  * Encoding joins the word→pieces codebook back to the token stream
  * broadcast-style (the q99/q137 shape).
  *
  * Coverage rule (Kudo §3.2's character fallback, hard-EM form):
  * single-character pieces are ALWAYS kept, with their Viterbi usage
  * floored at count 1 — every word stays segmentable in every round;
  * multi-character pieces leave the vocabulary the first round their
  * Viterbi usage hits zero (the hard-EM analogue of the paper's
  * likelihood-loss pruning).
  *
  * Words longer than MaxWordLen are excluded from training and encode
  * (zero exist in the corpora here; at deployment the constant is the
  * knob — DP cost is linear in it).
  */
object UnigramLm {

  /** Longest seed substring — Kudo's max_sentencepiece_length. */
  val MaxPieceLen = 4
  /** DP horizon; words beyond it are excluded (none in this corpus). */
  val MaxWordLen = 16
  /** Hard-EM rounds (Viterbi E-step + count M-step). */
  val EmRounds = 2
  /** Fixed-point scale for log-probabilities. */
  val LpScale = 10000
  /** Multi-char seed pieces need this corpus count; chars always stay. */
  private val MinSeedCount = 2L

  /** Sentinel "unreachable" negated score — larger than any real path
    * (|lp| ≤ ~30·10⁴ per piece × ≤16 pieces ≈ 5e6 ≪ 2⁵⁰), so a fake
    * path through an unreachable position can never win the argmin;
    * the oracle's missing-row representation is equivalent. */
  private val Big = 1L << 50

  /** Distinct corpus words with instance counts — the ONLY corpus
    * touch in training. */
  private def words(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(Dedup.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= MaxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Every (0-based start, piece) substring occurrence of `w`, piece
    * lengths 1..MaxPieceLen. */
  private val substrExpr =
    s"""flatten(transform(sequence(1, length(w)), s ->
       |  transform(sequence(1, least($MaxPieceLen, length(w) - s + 1)), l ->
       |    struct(s - 1 AS i, substring(w, s, l) AS piece))))""".stripMargin

  /** Seed vocabulary: substring occurrence counts weighted by word
    * instance counts; chars unconditionally, longer pieces at
    * count ≥ MinSeedCount. */
  private def seed(w: DataFrame): DataFrame =
    w.select(col("cnt"), explode(expr(substrExpr)).as("sp"))
      .select(col("cnt"), col("sp.piece").as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("c"))
      .filter(length(col("piece")) === 1 || col("c") >= MinSeedCount)

  /** Attach the fixed-point log-probability: lp = round(ln(c/N)·10⁴)
    * over the table's own total N (exact integer counts in, one ln +
    * one rounding out — see the determinism note above). One
    * refinement to that note: Spark's Round on DOUBLE rounds the
    * shortest-decimal rendering (BigDecimal.valueOf) while DuckDB
    * rounds the exact binary value, so the cross-engine divergence
    * window at a 10⁻⁴-grid midpoint is one ULP of the double —
    * marginally wider than the ~1e-15 true-value analysis above, still
    * vanishing for these integer-count ratios (and any flip would trip
    * the hash gate loudly, not corrupt silently). */
  private def withLp(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum(col("c")).as("n"))
    vocab.crossJoin(broadcast(tot))
      .withColumn("lp",
        round(log(col("c").cast("double") / col("n").cast("double")) * LpScale)
          .cast("long"))
      .select(col("piece"), col("c"), col("lp"))
  }

  /** Viterbi-best segmentation of every distinct word under `vocab` —
    * (w, cnt, pieces). The DP is one map-side fold per word over its
    * in-vocab substring occurrences (collected as an array): position
    * j's best = max over occurrences ending at j of best(start) + lp,
    * ties to the LOWER start (distinct starts at a fixed end are
    * distinct pieces, so (score, start) is a total order — mirrored by
    * the oracle's ORDER BY score DESC, start). Negated scores make the
    * argmax an array_min struct comparison. Backtracking is a second
    * bounded fold over the backpointer array. */
  private def viterbi(w: DataFrame, vocab: DataFrame): DataFrame = {
    val occ = w.select(col("w"), col("cnt"), explode(expr(substrExpr)).as("sp"))
      .select(col("w"), col("cnt"), col("sp.i").as("i"), col("sp.piece").as("piece"))
      .join(broadcast(vocab.select(col("piece"), col("lp"))), Seq("piece"))
      .groupBy(col("w"))
      .agg(first(col("cnt")).as("cnt"),
        sort_array(collect_list(struct(
          (col("i") + length(col("piece"))).as("j"),
          col("i"), col("lp"), col("piece")))).as("ms"))
    val dpExpr =
      s"""aggregate(sequence(1, length(w)),
         |  array(struct(CAST(0 AS BIGINT) AS nsc, -1 AS bi, '' AS bpiece)),
         |  (acc, j) -> concat(acc, array(coalesce(
         |    array_min(transform(filter(ms, m -> m.j = j),
         |      m -> struct(element_at(acc, m.i + 1).nsc - m.lp AS nsc,
         |                  m.i AS bi, m.piece AS bpiece))),
         |    struct(CAST($Big AS BIGINT) AS nsc, -1 AS bi, '' AS bpiece)))))"""
        .stripMargin
    val btExpr =
      """aggregate(sequence(1, length(w)),
        |  struct(length(w) AS pos, CAST(array() AS ARRAY<STRING>) AS ps),
        |  (st, x) -> IF(st.pos <= 0, st,
        |    struct(element_at(bp, st.pos + 1).bi AS pos,
        |           concat(array(element_at(bp, st.pos + 1).bpiece), st.ps) AS ps)),
        |  st -> st.ps)""".stripMargin
    occ.withColumn("bp", expr(dpExpr))
      .select(col("w"), col("cnt"), expr(btExpr).as("pieces"))
  }

  /** The hard-EM loop: seed → (Viterbi segment → re-count → re-score)
    * × rounds. Returns (final scored vocab, distinct-word table). */
  private def train(spark: SparkSession, dir: String,
                    rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 0)
    val w = words(spark, dir).localCheckpoint(true)
    var vocab = withLp(seed(w)).localCheckpoint(true)
    // the coverage floor set: every corpus character (fixed across
    // rounds — chars never leave the vocabulary)
    val chars = vocab.filter(length(col("piece")) === 1)
      .select(col("piece")).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val usage = viterbi(w, vocab)
        .select(col("cnt"), explode(col("pieces")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("u"))
        .localCheckpoint(true)
      val next = chars.join(usage, Seq("piece"), "left")
        .select(col("piece"),
          greatest(coalesce(col("u"), lit(0L)), lit(1L)).as("c"))
        .unionByName(usage
          .filter(length(col("piece")) > 1)
          .select(col("piece"), col("u").as("c")))
      vocab = withLp(next).localCheckpoint(true)
    }
    (vocab, w)
  }

  /** q156: the trained unigram-LM piece table after `rounds` hard-EM
    * rounds — (piece, cnt, lp); cnt is the count that DEFINED lp. */
  def unigramTrain(spark: SparkSession, dir: String,
                   rounds: Int = EmRounds): DataFrame =
    train(spark, dir, rounds)._1.select(col("piece"), col("c").as("cnt"), col("lp"))

  /** q157: Viterbi encode of the corpus under the trained model — the
    * apply step, q137's output shape: per doc the token count, total
    * piece count, and the wrapped piece stream in token order (one
    * sorted-struct collapse, never a per-doc sort window). The word→
    * pieces codebook is vocabulary-sized and broadcasts (q99/q137). */
  def unigramEncode(spark: SparkSession, dir: String,
                    rounds: Int = EmRounds): DataFrame = {
    val (vocab, w) = train(spark, dir, rounds)
    val cb = viterbi(w, vocab)
      .select(col("w").as("tok"),
        expr("concat_ws('', transform(pieces, p -> concat('<', p, '>')))").as("enc"),
        size(col("pieces")).cast("long").as("n_piece"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(Dedup.tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
      .filter(col("tok") =!= "" && length(col("tok")) <= MaxWordLen)
      .join(broadcast(cb), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("n_piece")).as("n_piece"),
        concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(pos, enc))), x -> x.enc)"))
          .as("enc"))
  }

  /** q161: sequence packing under the UNIGRAM-LM tokenizer — the
    * consumer step VERDICT r12 item 6 names: q93's packs count
    * whitespace tokens, but a trainer's loader fills sequences with
    * TOKENIZER pieces, so pack boundaries must come from the same
    * tokenizer the corpus will be encoded with. Per-doc piece counts
    * are the q157 encode's n_piece (docs whose every word exceeds
    * MaxWordLen count 0 — they still occupy their shard slot, a LEFT
    * join, so doc conservation holds); shard assignment and
    * within-shard order are IDENTICAL to q90/q93 (md5 of doc_id — a
    * tokenizer swap moves pack boundaries, never shard membership),
    * and the window/pack arithmetic is [[Curation.packBy]], shared
    * with q93, so the conservation/contiguity/exact-fill laws hold by
    * construction (CurationSpec pins both variants).
    *
    * Scale shape: the q157 encode chain (corpus touched once,
    * vocabulary-sized EM, broadcast codebook) plus q93's one
    * per-shard prefix-sum window — nothing new shuffles. */
  /** q177: greedy longest-match-first encode (the WordPiece inference
    * rule, Wu et al. 2016 §4.1; Song et al. 2021 "Fast WordPiece" give
    * the linear-time form) under the SAME trained unigram vocabulary as
    * q157 — the tokenizer family's other inference mode, exposed so the
    * two segmentations compare piece-for-piece on one vocab (greedy is
    * the cheap serve-time rule; Viterbi is likelihood-optimal). Output
    * is q157's exact shape (doc_id, n_tok, n_piece, enc).
    *
    * Determinism needs NO tie rule: at a fixed start the longest match
    * is unique (equal start + equal length ⇒ the same substring), so
    * the walk's argmax is total by construction — unlike Viterbi's
    * (score, start) order. The coverage floor (every corpus char stays
    * in the vocabulary) guarantees a match at every position, so the
    * walk always consumes the whole word.
    *
    * Scale shape = q157's exactly: the greedy walk is a bounded HOF
    * fold over the DISTINCT-WORD table (vocabulary-sized, ≤ MaxWordLen
    * steps), and the corpus is touched once to join the broadcast
    * codebook. The oracle replays the walk as a recursive CTE over the
    * per-(word, start) longest matches. */
  def wordpieceEncode(spark: SparkSession, dir: String,
                      rounds: Int = EmRounds): DataFrame = {
    val (vocab, w) = train(spark, dir, rounds)
    val occ = w.select(col("w"), col("cnt"), explode(expr(substrExpr)).as("sp"))
      .select(col("w"), col("sp.i").as("i"), col("sp.piece").as("piece"))
      .join(broadcast(vocab.select(col("piece"))), Seq("piece"))
      .groupBy(col("w"))
      .agg(collect_list(struct((col("i") + length(col("piece"))).as("j"),
        col("i"), col("piece"))).as("ms"))
    val greedyExpr =
      """aggregate(sequence(1, length(w)),
        |  struct(0 AS pos, CAST(array() AS ARRAY<STRING>) AS ps),
        |  (st, x) -> IF(st.pos >= length(w), st,
        |    struct(
        |      coalesce(array_max(transform(filter(ms, m -> m.i = st.pos),
        |        m -> m.j)), length(w)) AS pos,
        |      concat(st.ps, transform(
        |        array(array_max(transform(filter(ms, m -> m.i = st.pos),
        |          m -> struct(m.j AS j, m.piece AS piece)))),
        |        t -> t.piece)) AS ps)),
        |  st -> filter(st.ps, p -> p IS NOT NULL))""".stripMargin
    val cb = occ.withColumn("ps", expr(greedyExpr))
      // fail-fast coverage guard (ADVICE r13): a word with no vocab
      // match at position 0 walks to an EMPTY piece list here while the
      // oracle's recursive gwalk drops the token entirely — a silent
      // cross-engine divergence. q156 training guarantees char coverage
      // (single chars never prune), so an empty walk can only mean a
      // broken vocabulary: raise loudly instead of diverging.
      .withColumn("ps", expr(
        "IF(size(ps) > 0, ps, raise_error(concat('q177: vocabulary does not cover word ', w)))"))
      .select(col("w").as("tok"),
        expr("concat_ws('', transform(ps, p -> concat('<', p, '>')))").as("enc"),
        size(col("ps")).cast("long").as("n_piece"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(Dedup.tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
      .filter(col("tok") =!= "" && length(col("tok")) <= MaxWordLen)
      .join(broadcast(cb), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("n_piece")).as("n_piece"),
        concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(pos, enc))), x -> x.enc)"))
          .as("enc"))
  }

  def unigramPacking(spark: SparkSession, dir: String,
                     rounds: Int = EmRounds,
                     nShards: Int = Curation.NumShards,
                     capacity: Long = Curation.PackCapacity): DataFrame = {
    val counts = Tables.documents(spark, dir).select(col("doc_id"))
      .join(unigramEncode(spark, dir, rounds).select(col("doc_id"), col("n_piece")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_piece"), lit(0L)).as("n_tok"))
    Curation.packBy(Curation.shardKeysBy(counts, nShards), capacity)
  }

  /** q160: unigram-LM tokenizer fertility by language — q145's report
    * (symbols/word, chars/symbol) over the q157 encode, column-for-
    * column, so the BPE and unigram tokenizers compare row-for-row on
    * the same corpus: THE metric a tokenizer choice is made on
    * (fertility ↓ = fewer pieces per word = cheaper training tokens).
    * Same scale shape as q145: one broadcast codebook join, then a
    * groupBy over the ~handful of languages with map-side partials. */
  def unigramFertility(spark: SparkSession, dir: String,
                       rounds: Int = EmRounds): DataFrame = {
    val (vocab, w) = train(spark, dir, rounds)
    val cb = viterbi(w, vocab)
      .select(col("w").as("tok"), size(col("pieces")).cast("long").as("n_sym"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(Dedup.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "" && length(col("tok")) <= MaxWordLen)
      .join(broadcast(cb), Seq("tok"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_sym")).cast("long").as("n_sym"),
        sum(length(col("tok"))).cast("long").as("n_chars"))
      .withColumn("fertility",
        col("n_sym").cast("double") / col("n_words"))
      .withColumn("chars_per_sym",
        col("n_chars").cast("double") / col("n_sym"))
  }

  // ----------------------------------------------------------------
  // DuckDB oracle: the identical chain, DP unrolled position-by-
  // position as generated MATERIALIZED CTEs (the q139/oracleChainIvf
  // convention — each CTE is referenced more than once and default
  // inlining would re-expand multiplicatively). Unreachable (word,
  // pos) states are MISSING ROWS here vs the Spark fold's Big
  // sentinel — equivalent because a sentinel path can never win (see
  // Big) and final positions are always reachable (char coverage).
  // ----------------------------------------------------------------

  private val wordsSql =
    s"""SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
       |  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS w
       |  FROM documents)
       |WHERE w <> '' AND len(w) <= $MaxWordLen GROUP BY w""".stripMargin

  private val spSql =
    s"""SELECT w.w, w.cnt, CAST(s.s - 1 AS INT) AS i,
       |  substr(w.w, CAST(s.s AS INT), CAST(l.l AS INT)) AS piece
       |FROM w, (SELECT unnest(range(1, ${MaxWordLen + 1})) AS s) s,
       |     (SELECT unnest(range(1, ${MaxPieceLen + 1})) AS l) l
       |WHERE s.s + l.l - 1 <= len(w.w)""".stripMargin

  private def lpSql(vFrom: String): String =
    s"""SELECT piece, c, CAST(round(ln(CAST(c AS DOUBLE)
       |    / (SELECT CAST(sum(c) AS DOUBLE) FROM $vFrom)) * $LpScale) AS BIGINT) AS lp
       |FROM $vFrom""".stripMargin

  /** One Viterbi round's CTEs against piece table `lp$r`: occurrence
    * join, the position-unrolled DP (best per (word, pos), ties →
    * lower start), and the recursive backpointer walk emitting one row
    * per chosen piece. */
  private def roundSql(r: Int): String = {
    val dp = (1 to MaxWordLen).map { j =>
      s"""dp${r}_$j AS MATERIALIZED (
         |  SELECT w, $j AS pos, nsc, bi, bpiece FROM (
         |    SELECT o.w, d.nsc - o.lp AS nsc, o.i AS bi, o.piece AS bpiece,
         |      row_number() OVER (PARTITION BY o.w ORDER BY d.nsc - o.lp, o.i) AS rn
         |    FROM occ$r o JOIN dpc${r}_${j - 1} d ON d.w = o.w AND d.pos = o.i
         |    WHERE o.j = $j) WHERE rn = 1),
         |dpc${r}_$j AS MATERIALIZED (
         |  SELECT * FROM dpc${r}_${j - 1} UNION ALL SELECT * FROM dp${r}_$j)"""
        .stripMargin
    }.mkString(",\n")
    s"""occ$r AS MATERIALIZED (
       |  SELECT sp.w, sp.cnt, sp.i, sp.i + len(sp.piece) AS j, sp.piece, v.lp
       |  FROM sp JOIN lp$r v USING (piece)),
       |dpc${r}_0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS nsc, -1 AS bi, '' AS bpiece FROM w),
       |$dp,
       |wk$r AS (
       |  SELECT d.w, d.pos, d.bi, d.bpiece, w.cnt
       |  FROM dpc${r}_$MaxWordLen d JOIN w ON w.w = d.w AND d.pos = len(w.w)
       |  UNION ALL
       |  SELECT d.w, d.pos, d.bi, d.bpiece, k.cnt
       |  FROM wk$r k JOIN dpc${r}_$MaxWordLen d ON d.w = k.w AND d.pos = k.bi
       |  WHERE k.bi > 0)""".stripMargin
  }

  /** M-step: usage counts from round r's walk → vocab r+1 (chars
    * floored at 1, unused multi-char pieces dropped) → scores. */
  private def mStepSql(r: Int): String =
    s"""usage$r AS (SELECT bpiece AS piece, CAST(sum(cnt) AS BIGINT) AS u
       |  FROM wk$r GROUP BY 1),
       |v${r + 1} AS MATERIALIZED (
       |  SELECT c.piece, greatest(coalesce(u.u, 0), 1) AS c
       |  FROM (SELECT piece FROM v0 WHERE len(piece) = 1) c
       |  LEFT JOIN usage$r u USING (piece)
       |  UNION ALL
       |  SELECT piece, u FROM usage$r WHERE len(piece) > 1),
       |lp${r + 1} AS MATERIALIZED (${lpSql(s"v${r + 1}")})""".stripMargin

  /** WITH-body ending in piece table `lp$rounds` (train) — callers may
    * append one more round's CTEs for the encode walk. */
  private def chainSql(rounds: Int): String = {
    val ems = (0 until rounds)
      .map(r => s"${roundSql(r)},\n${mStepSql(r)}").mkString(",\n")
    s"""w AS MATERIALIZED ($wordsSql),
       |sp AS MATERIALIZED ($spSql),
       |v0 AS MATERIALIZED (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS c FROM sp GROUP BY piece
       |  HAVING len(piece) = 1 OR sum(cnt) >= $MinSeedCount),
       |lp0 AS MATERIALIZED (${lpSql("v0")}),
       |$ems""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q156_unigram_train" ->
      s"""WITH RECURSIVE ${chainSql(EmRounds)}
         |SELECT piece, c AS cnt, lp FROM lp$EmRounds""".stripMargin,
    // one extra Viterbi round under the FINAL scores supplies the
    // encode walk; the per-word piece stream reassembles ORDER BY the
    // piece's start position, then docs collapse in token order.
    "q157_unigram_encode" ->
      s"""WITH RECURSIVE ${chainSql(EmRounds)},
         |${roundSql(EmRounds)},
         |cb AS (SELECT w AS tok,
         |    string_agg('<' || bpiece || '>', '' ORDER BY bi) AS enc,
         |    CAST(count(*) AS BIGINT) AS n_piece
         |  FROM wk$EmRounds GROUP BY w),
         |inst AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS tok
         |  FROM (SELECT doc_id,
         |      string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |    FROM documents))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |  CAST(sum(n_piece) AS BIGINT) AS n_piece,
         |  string_agg(enc, ' ' ORDER BY pos) AS enc
         |FROM inst JOIN cb USING (tok) WHERE tok <> '' AND len(tok) <= $MaxWordLen
         |GROUP BY doc_id""".stripMargin,
    // q161: the q157 chain's per-doc piece counts (LEFT-joined so
    // uncounted docs pack at 0 tokens), then q93's pack CTEs verbatim.
    "q177_wordpiece_encode" ->
      s"""WITH RECURSIVE ${chainSql(EmRounds)},
         |gocc AS MATERIALIZED (
         |  SELECT sp.w, sp.i, sp.i + len(sp.piece) AS j, sp.piece
         |  FROM sp JOIN lp$EmRounds v USING (piece)),
         |gbest AS MATERIALIZED (
         |  SELECT w, i, j, piece FROM (
         |    SELECT w, i, j, piece,
         |      row_number() OVER (PARTITION BY w, i ORDER BY j DESC) AS rn
         |    FROM gocc) WHERE rn = 1),
         |gwalk AS (
         |  SELECT w, i, j, piece FROM gbest WHERE i = 0
         |  UNION ALL
         |  SELECT b.w, b.i, b.j, b.piece
         |  FROM gwalk g JOIN gbest b ON b.w = g.w AND b.i = g.j),
         |cb AS MATERIALIZED (SELECT g.w AS tok,
         |    string_agg('<' || piece || '>', '' ORDER BY i) AS enc,
         |    CAST(count(*) AS BIGINT) AS n_piece
         |  FROM gwalk g GROUP BY g.w),
         |inst AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS tok
         |  FROM (SELECT doc_id,
         |      string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |    FROM documents))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |  CAST(sum(n_piece) AS BIGINT) AS n_piece,
         |  string_agg(enc, ' ' ORDER BY pos) AS enc
         |FROM inst JOIN cb USING (tok) WHERE tok <> '' AND len(tok) <= $MaxWordLen
         |GROUP BY doc_id""".stripMargin,
    "q161_unigram_packing" ->
      s"""WITH RECURSIVE ${chainSql(EmRounds)},
         |${roundSql(EmRounds)},
         |cb AS (SELECT w AS tok, CAST(count(*) AS BIGINT) AS n_piece
         |  FROM wk$EmRounds GROUP BY w),
         |inst AS (SELECT doc_id, unnest(toks) AS tok
         |  FROM (SELECT doc_id,
         |      string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |    FROM documents)),
         |pc AS (SELECT doc_id, CAST(sum(n_piece) AS BIGINT) AS n_piece
         |  FROM inst JOIN cb USING (tok) WHERE tok <> '' AND len(tok) <= $MaxWordLen
         |  GROUP BY doc_id),
         |k AS (SELECT d.doc_id, coalesce(pc.n_piece, 0) AS n_tok,
         |    md5(CAST(d.doc_id AS VARCHAR)) AS ord
         |  FROM documents d LEFT JOIN pc ON pc.doc_id = d.doc_id),
         |s AS (SELECT doc_id, n_tok, ord,
         |    CAST('0x' || substring(ord, 1, 15) AS BIGINT) % ${Curation.NumShards} AS shard_id
         |  FROM k),
         |p AS (SELECT shard_id, doc_id, n_tok, ord,
         |    CAST(floor((sum(n_tok) OVER (PARTITION BY shard_id ORDER BY ord
         |      ROWS UNBOUNDED PRECEDING) - n_tok) / ${Curation.PackCapacity}) AS BIGINT) AS pack_id
         |  FROM s)
         |SELECT shard_id, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  arg_min(doc_id, ord) AS first_doc_id,
         |  CAST(sum(n_tok) AS DOUBLE) / ${Curation.PackCapacity} AS fill_ratio
         |FROM p GROUP BY 1, 2""".stripMargin,
    // q160: the q157 chain with lang carried through and the per-doc
    // collapse replaced by the per-language report (q145's shape).
    "q160_unigram_fertility" ->
      s"""WITH RECURSIVE ${chainSql(EmRounds)},
         |${roundSql(EmRounds)},
         |cb AS (SELECT w AS tok, CAST(count(*) AS BIGINT) AS n_sym
         |  FROM wk$EmRounds GROUP BY w),
         |inst AS (SELECT doc_id, lang, unnest(toks) AS tok
         |  FROM (SELECT doc_id, lang,
         |      string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |    FROM documents))
         |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_sym) AS BIGINT) AS n_sym,
         |  CAST(sum(len(tok)) AS BIGINT) AS n_chars,
         |  CAST(sum(n_sym) AS DOUBLE) / count(*) AS fertility,
         |  CAST(sum(len(tok)) AS DOUBLE) / sum(n_sym) AS chars_per_sym
         |FROM inst JOIN cb USING (tok) WHERE tok <> '' AND len(tok) <= $MaxWordLen
         |GROUP BY lang""".stripMargin,
  )
}
