package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Byte-pair-encoding tokenizer training (Sennrich, Haddow & Birch,
  * "Neural Machine Translation of Rare Words with Subword Units", ACL
  * 2016 §3.2) — the subword step that completes q99's word-level
  * tokenizer story: learn a merge table from corpus statistics, greedy
  * most-frequent-pair-first, ties broken lexically.
  *
  * Representation: a word is its symbol sequence rendered as a single
  * string with every symbol wrapped — "key" starts as `<k><e><y>` and a
  * merge of (k, e) rewrites it to `<ke><y>` via one literal `replace`.
  * The wrapping makes the rewrite exact: a pattern `<l><r>` can only
  * match at a symbol boundary, the inserted `<lr>` can never complete a
  * new occurrence (symbols are nonempty, so `<lr` never equals `<l`),
  * and therefore Spark's and DuckDB's byte-level left-to-right
  * non-overlapping `replace` produce the SAME greedy segmentation —
  * including the self-pair case (`aaaa` + merge (a,a) → `aa,aa`). The
  * corpus alphabet is [a-z] (normText), so `<`/`>` are free delimiters.
  *
  * Scale shape: the corpus is touched ONCE — the initial
  * groupBy(token) count (map-side partial, the q99 vocabulary scale
  * argument: the working table is the DISTINCT-token aggregate, whose
  * size real tokenizer trainers already bound by pre-tokenization).
  * Each merge round over that vocab table is: one map-side
  * split+posexplode to adjacent pairs, one small groupBy(l, r), an
  * argmax as a bounded TakeOrderedAndProject limit(1), and a broadcast
  * 1-row join applying the rewrite map-side. Rounds eager-checkpoint
  * the (vocab-sized) word table and the 1-row winner — the q111 Lloyd
  * pattern — so plan depth stays constant and the final merge-table
  * union replays nothing. No step ever shuffles corpus-sized data, and
  * no window function appears anywhere.
  */
object Bpe {

  /** Merge rounds learned by q134 (a knob; real tokenizers run until
    * |vocab| reaches 32k–100k). 16 keeps the unrolled oracle CTE chain
    * readable while merging well past the bigram stage on the synthetic
    * corpus. */
  private[graft] val MergeRounds = 16

  /** Initial word table: (rep = `<c><c>…`, cnt) over distinct corpus
    * tokens. */
  private def initialWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(Dedup.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("tok"), "(.)", "<$1>").as("rep"), col("cnt"))

  /** The trainer loop: returns (merge table, final word table).
    * `merges` is (step, lhs, rhs, merged, cnt); `words` is (rep, cnt)
    * after all rounds.
    *
    * Stopping (how real tokenizers terminate, Sennrich §3.2): besides
    * the `rounds` cap, `vocabTarget` > 0 stops once the symbol
    * vocabulary reaches the target, and `minPairCount` > 1 stops before
    * a merge whose best pair occurs fewer times. The vocabulary is
    * tracked as the actual DISTINCT symbol set (alphabet ∪ merged
    * strings), not as alphabet + one-per-merge. A duplicate merged
    * string (two merges concatenating to the same string, e.g. 'a'+'bc'
    * and 'ab'+'c') would grow the vocabulary by zero and training would
    * correctly continue — but under THIS trainer's global left-to-right
    * rewrites the case appears unreachable: each merge canonicalizes
    * its adjacency corpus-wide before any later merge runs, so an
    * alternative split of the same string never survives to pair up
    * (700k randomized fixture searches over 2–3 letter alphabets found
    * no duplicate). The exact tracking is therefore DEFENSIVE — it
    * makes the stop robust to the case instead of silently assuming
    * distinctness.
    * Best-pair counts are non-increasing across BPE rounds (a merge's
    * derived pairs occur at most as often as the merge itself), so both
    * stops truncate the unconstrained merge sequence to a PREFIX —
    * BpeSpec asserts exactly that. Each round already materializes its
    * 1-row winner (localCheckpoint), so the per-round reads (threshold,
    * merged symbol) are 1-row takes on checkpointed frames — free. */
  private[graft] def train(spark: SparkSession, dir: String,
                           rounds: Int, minPairCount: Long = 1L,
                           vocabTarget: Int = 0): (DataFrame, DataFrame) = {
    require(rounds >= 1, "merge rounds must be positive")
    var words = initialWords(spark, dir).localCheckpoint(true)
    // exact vocab tracking: the alphabet is charset-bounded (here [a-z],
    // ≤ a few hundred in general) so collecting it is metadata-sized
    val vocab: scala.collection.mutable.Set[String] =
      if (vocabTarget <= 0) null
      else {
        val s = scala.collection.mutable.Set.empty[String]
        words.select(explode(split(trim(col("rep"), "<>"), "><")).as("sym"))
          .distinct().collect().foreach(r => s += r.getString(0))
        require(vocabTarget > s.size,
          s"vocab target $vocabTarget <= alphabet ${s.size}")
        s
      }
    val merges = Seq.newBuilder[DataFrame]
    var stopped = false
    for (r <- 1 to rounds if !stopped && (vocab == null || vocab.size < vocabTarget)) {
      val pairs = words
        .select(col("cnt"), split(trim(col("rep"), "<>"), "><").as("s"))
        .select(col("cnt"), explode(expr(
          """CASE WHEN size(s) >= 2
            |  THEN transform(sequence(0, size(s) - 2),
            |         i -> struct(s[i] AS lhs, s[i+1] AS rhs))
            |  ELSE array() END""".stripMargin)).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("cnt")).as("c"))
      val best = pairs.orderBy(desc("c"), asc("lhs"), asc("rhs")).limit(1)
        .select(lit(r.toLong).as("step"), col("lhs"), col("rhs"),
          concat(col("lhs"), col("rhs")).as("merged"), col("c").as("cnt"))
        .localCheckpoint(true)
      // threshold stop: the checkpointed winner is 1 row — reading it
      // is free; a sub-threshold best ends training BEFORE this merge
      if (minPairCount > 1L &&
          best.select(col("cnt")).take(1).forall(_.getLong(0) < minPairCount)) {
        stopped = true
      } else {
      merges += best
      if (vocab != null)
        best.select(col("merged")).take(1).foreach(row => vocab += row.getString(0))
      // a round with no pairs left yields an empty winner: the coalesced
      // pattern `<<` cannot occur in a wrapped rep, so the rewrite
      // degrades to a no-op instead of nulling the corpus
      words = words
        .join(broadcast(best.select(col("lhs"), col("rhs"), col("merged"))),
          lit(true), "left")
        .select(expr(
          """replace(rep,
            |  coalesce(concat('<', lhs, '><', rhs, '>'), '<<'),
            |  coalesce(concat('<', merged, '>'), ''))""".stripMargin).as("rep"),
          col("cnt"))
        .localCheckpoint(true)
      }
    }
    val ms = merges.result()
    // a threshold that rejects even the FIRST best pair is a valid
    // "nothing to merge" outcome, not an error: return an empty frame
    // with the merge-table schema (ADVICE r9) so callers and sinks see
    // zero rows instead of a crash
    val table =
      if (ms.nonEmpty) ms.reduce(_.unionByName(_))
      else {
        // mirror the populated branch's schema exactly, nullability
        // included (step is a literal and lhs/rhs/merged derive from
        // split elements with containsNull=false → non-null; only the
        // summed cnt is nullable), so unions and schema-hash checks see
        // ONE schema whichever branch ran (ADVICE r10; BpeSpec pins it)
        val schema = StructType(Seq(
          StructField("step", LongType, nullable = false),
          StructField("lhs", StringType, nullable = false),
          StructField("rhs", StringType, nullable = false),
          StructField("merged", StringType, nullable = false),
          StructField("cnt", LongType)))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      }
    (table, words)
  }

  /** q134: the learned BPE merge table — (step, lhs, rhs, merged, cnt),
    * one row per round in learning order. Defaults train exactly
    * `rounds` merges (the oracle-checked configuration); `vocabTarget`
    * / `minPairCount` expose the deployment stopping rules. */
  def bpeMerges(spark: SparkSession, dir: String,
                rounds: Int = MergeRounds, minPairCount: Long = 1L,
                vocabTarget: Int = 0): DataFrame =
    train(spark, dir, rounds, minPairCount, vocabTarget)._1

  /** q137: corpus encoding with the learned merges — the apply step
    * that turns documents into subword streams. The trained word table
    * IS the codebook: stripping the delimiters recovers the raw token
    * (the wrapping is a bijection), so tokens join the vocab-sized
    * codebook (broadcast — the q99 encode shape) and each document
    * reassembles its wrapped-symbol stream in token order via one
    * sorted-struct collapse, never a per-doc sort window. Output per
    * doc: token count, total subword symbol count, and the encoded
    * stream. Scale shape: training never touches the corpus beyond its
    * one groupBy (see above); encoding is one broadcast join + one
    * groupBy(doc_id) with map-side partials. */
  def bpeEncode(spark: SparkSession, dir: String,
                rounds: Int = MergeRounds): DataFrame = {
    val words = train(spark, dir, rounds)._2
    val codebook = words.select(
      regexp_replace(col("rep"), "[<>]", "").as("tok"), col("rep"),
      size(split(trim(col("rep"), "<>"), "><")).as("n_sym"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(Dedup.tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
      .filter(col("tok") =!= "")
      .join(broadcast(codebook), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("n_sym")).cast("long").as("n_sym"),
        sort_array(collect_list(struct(col("pos"), col("rep")))).as("pr"))
      .select(col("doc_id"), col("n_tok"), col("n_sym"),
        expr("concat_ws(' ', transform(pr, x -> x.rep))").as("enc"))
  }

  /** q145: tokenizer fertility by language — the standard multilingual
    * tokenizer-equity report (symbols-per-word; cf. the parity analyses
    * around Sennrich ACL'16-style BPE): languages under-represented in
    * the training corpus fragment into more subwords per word, which
    * directly inflates their effective sequence length and training
    * cost. Per language: document/word/symbol/char totals, fertility =
    * symbols per word, and compression = chars per symbol. All
    * divisions are exact-BIGINT ratios taken once at the end
    * (deterministic doubles, the q142 rule).
    *
    * Scale shape: the q137 encode pipeline minus the per-doc collapse —
    * one broadcast codebook join, then a groupBy over the ~handful of
    * languages with map-side partials; the multi-aggregate needs no
    * distinct shuffle beyond doc_id-per-lang. */
  def bpeFertility(spark: SparkSession, dir: String,
                   rounds: Int = MergeRounds): DataFrame = {
    val words = train(spark, dir, rounds)._2
    val codebook = words.select(
      regexp_replace(col("rep"), "[<>]", "").as("tok"),
      size(split(trim(col("rep"), "<>"), "><")).as("n_sym"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(Dedup.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .join(broadcast(codebook), "tok")
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

  /** DuckDB oracle: the identical greedy loop unrolled as CTE rounds
    * (the q111 precedent) over the same wrapped-symbol representation —
    * zip-unnest of the shifted symbol lists gives the adjacent pairs,
    * LIMIT 1 the winner, one `replace` the rewrite. Every chained CTE is
    * MATERIALIZED: each round references its predecessor twice, so
    * DuckDB's default inlining would expand the base scan 2^rounds
    * times (observed as a too-many-open-files explosion at 16 rounds).
    */
  private def oracleFor(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH "
    sb ++= chainFor(rounds)
    sb ++= "\n"
    sb ++= (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS step, lhs, rhs, merged, c AS cnt FROM b$r")
      .mkString("", "\nUNION ALL\n", "")
    sb.toString
  }

  /** The shared CTE chain `w0 … w<rounds>` of the unrolled trainer. */
  private def chainFor(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++=
      """w0 AS MATERIALIZED (
        |  SELECT regexp_replace(tok, '(.)', '<\1>', 'g') AS rep, cnt FROM (
        |    SELECT tok, count(*) AS cnt FROM (
        |      SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |      FROM documents)
        |    WHERE tok <> '' GROUP BY tok))""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
        |p$r AS (SELECT lhs, rhs, CAST(sum(cnt) AS BIGINT) AS c FROM (
        |    SELECT unnest(s[1:len(s)-1]) AS lhs, unnest(s[2:len(s)]) AS rhs, cnt
        |    FROM (SELECT string_split(trim(rep, '<>'), '><') AS s, cnt FROM w${r - 1}))
        |  GROUP BY 1, 2),
        |b$r AS MATERIALIZED (SELECT lhs, rhs, lhs || rhs AS merged, c FROM p$r
        |  ORDER BY c DESC, lhs, rhs LIMIT 1),
        |w$r AS MATERIALIZED (SELECT replace(rep,
        |    coalesce('<' || b.lhs || '><' || b.rhs || '>', '<<'),
        |    coalesce('<' || b.merged || '>', '')) AS rep, cnt
        |  FROM w${r - 1} LEFT JOIN b$r b ON TRUE)""".stripMargin
    }
    sb.toString
  }

  private def encodeOracleFor(rounds: Int): String =
    s"""WITH ${chainFor(rounds)},
       |cb AS (SELECT rep, regexp_replace(rep, '[<>]', '', 'g') AS tok,
       |    CAST(len(string_split(trim(rep, '<>'), '><')) AS BIGINT) AS n_sym
       |  FROM w$rounds),
       |inst AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS tok
       |  FROM (SELECT doc_id,
       |      string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |    FROM documents))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |  CAST(sum(n_sym) AS BIGINT) AS n_sym,
       |  string_agg(rep, ' ' ORDER BY pos) AS enc
       |FROM inst JOIN cb USING (tok) WHERE tok <> ''
       |GROUP BY doc_id""".stripMargin

  /** q145's oracle: the q137 chain with lang carried through and the
    * per-doc collapse replaced by the per-language report. */
  private def fertilityOracleFor(rounds: Int): String =
    s"""WITH ${chainFor(rounds)},
       |cb AS (SELECT regexp_replace(rep, '[<>]', '', 'g') AS tok,
       |    CAST(len(string_split(trim(rep, '<>'), '><')) AS BIGINT) AS n_sym
       |  FROM w$rounds),
       |inst AS (SELECT doc_id, lang, unnest(toks) AS tok
       |  FROM (SELECT doc_id, lang,
       |      string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |    FROM documents))
       |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_sym) AS BIGINT) AS n_sym,
       |  CAST(sum(length(tok)) AS BIGINT) AS n_chars,
       |  CAST(sum(n_sym) AS DOUBLE) / count(*) AS fertility,
       |  CAST(sum(length(tok)) AS DOUBLE) / sum(n_sym) AS chars_per_sym
       |FROM inst JOIN cb USING (tok) WHERE tok <> ''
       |GROUP BY lang""".stripMargin

  val oracle: Map[String, String] = Map(
    "q134_bpe_merges" -> oracleFor(MergeRounds),
    "q137_bpe_encode" -> encodeOracleFor(MergeRounds),
    "q145_bpe_fertility" -> fertilityOracleFor(MergeRounds))
}
