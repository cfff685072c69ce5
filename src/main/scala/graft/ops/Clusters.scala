package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: near-dup PAIRS (q22/q23/q24/q27) only
  * become actionable once transitively clustered — "keep one document per
  * component" — so connected components is the missing last stage of
  * every dedup pipeline here.
  *
  * Algorithm: alternating large-star / small-star rounds (Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
  * MapReduce and Beyond", SoCC'14) — each round is a pair of
  * groupBy-min + join steps, all shuffle-partitioned on node id, no
  * driver-side graph. Unlike plain min-label propagation (O(diameter)
  * rounds — fine for near-clique dup clusters, pathological on chains),
  * star contraction halves path heights every round and converges in
  * O(log² n) rounds on ANY graph shape (ClustersSpec pins a length-64
  * path converging in ≤ 8 rounds). Per-round lineage is truncated with
  * [[Materialize.sliver]] — without it every iteration re-plans the full
  * upstream DAG (the edge input can be an entire near-dup job); its
  * scaladoc states the checkpoint contract.
  */
object Clusters {

  /** One large-star round: every node connects its LARGER neighbors to
    * the minimum of its full neighborhood (incl. itself). */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.select(col("u").as("x"), col("v").as("y"))
      .union(e.select(col("v").as("x"), col("u").as("y")))
    val mins = und.groupBy(col("x")).agg(least(col("x"), min(col("y"))).as("m"))
    und.join(mins, "x")
      .filter(col("y") > col("x"))
      .select(least(col("y"), col("m")).as("u"), greatest(col("y"), col("m")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One small-star round: every node connects its SMALLER neighbors and
    * itself to the minimum among them. */
  private def smallStar(e: DataFrame): DataFrame = {
    val down = e.select(col("v").as("x"), col("u").as("y")) // y < x by canonical form
    val mins = down.groupBy(col("x")).agg(least(col("x"), min(col("y"))).as("m"))
    down.join(mins, "x")
      .select(col("y").as("n"), col("m"))
      .union(mins.select(col("x").as("n"), col("m")))
      .filter(col("n") =!= col("m"))
      .select(least(col("n"), col("m")).as("u"), greatest(col("n"), col("m")).as("v"))
      .distinct()
  }

  /** Connected components of an undirected edge list `(a_id, b_id)`:
    * returns ((node, comp) rows, rounds-to-converge) where comp = min
    * node id in the component. */
  def connectedComponentsWithRounds(edges: DataFrame,
      maxRounds: Int = 64): (DataFrame, Int) = {
    // fixpoint signature (size + two order-independent checksums),
    // observed by the checkpoint that truncates the round's lineage, so
    // a round costs ONE scan of the edge set, not two. A signature match
    // is CONFIRMED with an exact except() before the loop exits, so a
    // checksum collision can only cost one extra round, never a wrong
    // answer.
    val signature = Seq(count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("huv"),
      coalesce(bit_xor(xxhash64(col("v"), col("u"))), lit(0L)).as("hvu"))
    // materialize the INPUT once (r22): the canonical edge set AND the
    // labeling's singleton restoration below both consume `edges`, and a
    // LAZY caller pipeline (q155's IVF pair stage under q159, q139's
    // under q140) used to re-execute in full for each consumer — three
    // pair-stage runs per apply query. One pair-sliver checkpoint makes
    // the caller's pipeline run exactly once; eager callers (the
    // jaccard family) pay one cheap sliver re-write.
    val in = edges.select(col("a_id"), col("b_id")).localCheckpoint(true)
    var (e, sig) = Materialize.sliver(in
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())(signature: _*)
    var rounds = 0
    var converged = sig.getLong(0) == 0L // empty edge set is already a fixpoint
    while (!converged && rounds < maxRounds) {
      // smallStar scans the large-star result twice (mins + re-join), but
      // Catalyst reuses the shuffle exchange — only `next` needs the
      // lineage-truncating checkpoint
      val (next, nextSig) = Materialize.sliver(smallStar(largeStar(e)))(signature: _*)
      rounds += 1
      converged = nextSig == sig && next.except(e).isEmpty
      sig = nextSig
      e = next
    }
    // the post-loop labeling is only valid AT the fixpoint — failing
    // loudly beats returning silently-wrong components
    require(converged,
      s"connected components did not converge within $maxRounds star rounds")
    // at the fixpoint the graph is a union of min-rooted stars: a leaf's
    // only neighbor is its root, a root's neighbors are all larger
    val und = e.select(col("u").as("x"), col("v").as("y"))
      .union(e.select(col("v").as("x"), col("u").as("y")))
    val starLabels = und.groupBy(col("x")).agg(least(col("x"), min(col("y"))).as("comp"))
      .select(col("x").as("node"), col("comp"))
    // nodes whose only edges were self-loops vanish from the canonical
    // edge set — restore them as singleton components (from the
    // materialized input, never the caller's frame)
    val nodes = in.select(col("a_id").as("node"))
      .union(in.select(col("b_id").as("node"))).distinct()
    val labels = nodes.join(starLabels, Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
    (labels, rounds)
  }

  /** Interface kept from the min-label round-2 version. */
  def connectedComponents(edges: DataFrame): DataFrame =
    connectedComponentsWithRounds(edges)._1

  /** q54: cluster the exact-jaccard near-dup pairs and emit one row per
    * member with its canonical representative (min doc_id of the
    * component) — the "which docs do I drop" answer. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(Dedup.jaccardNearDup(spark, dir).select("a_id", "b_id"))
      .select(col("node").as("doc_id"), col("comp").as("canonical_id"))

  /** q129: APPLY the dedup decision — the end step q54 stops short of:
    * within each near-dup cluster keep the HIGHEST-QUALITY member (q29's
    * quality functional; ties to the lowest doc_id), drop the rest. This
    * is the curation policy real pipelines run — "keep the best copy",
    * not "keep the first" — and it composes three library operators
    * (jaccard near-dup → connected components → quality scoring) whose
    * chained DuckDB oracle proves the composition end-to-end.
    *
    * Scale shape: clusters join quality on doc_id (cluster members are
    * the near-dup sliver of the corpus, so the join is small-side), the
    * per-cluster argmax is one typed arg-min over (-quality, doc_id) —
    * map-side partials, no window — and the keep flag is a map-side
    * compare after a re-join on the canonical id. The natural
    * `min(struct(-quality, doc_id))` spelling planned SortAggregate
    * (struct buffers are not HashAggregate-mutable — the last such
    * site after the r17 sweep); [[graft.functions.MinByDoubleAgg]]
    * keeps the sliver argmax in hash mode with identical semantics
    * (ord ASC nan-safe, ties to the lowest doc_id — the oracle's
    * row_number ORDER BY quality DESC, doc_id).
    *
    * Null quality (q29's ratios are Spark divisions, NULL when
    * text_len or n_tok is 0) coalesces to a +Infinity ordering key
    * (ADVICE r18): MinByDoubleAgg IGNORES null-ord rows, so without
    * the sentinel an all-null-quality cluster would get keep_id=NULL
    * and every member 'drop' — the oracle's row_number (DuckDB
    * defaults to NULLS LAST under DESC) always keeps one. +Infinity
    * ranks a null-quality member behind every real quality and breaks
    * all-null ties to the lowest doc_id, exactly the oracle's order. */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir) // (doc_id, canonical_id)
    val quality = graft.ops.TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
    dedupApplyOf(clusters.join(quality, "doc_id"))
  }

  /** The argmax + keep-flag tail of [[dedupApply]] over a prepared
    * member table (doc_id, canonical_id, quality) — split out so the
    * null-quality sentinel law is unit-testable without a corpus. */
  private[graft] def dedupApplyOf(member: DataFrame): DataFrame = {
    val minByNq = udaf(new graft.functions.MinByDoubleAgg)
    val best = member.groupBy(col("canonical_id"))
      .agg(minByNq(coalesce(-col("quality"), lit(Double.PositiveInfinity)),
        col("doc_id")).as("keep_id"))
    member.join(best, "canonical_id")
      .select(col("doc_id"), col("canonical_id"), col("quality"),
        when(col("doc_id") === col("keep_id"), "keep").otherwise("drop").as("action"))
  }

  /** q143: leakage-safe train/eval split — q50's deterministic hash
    * split with the near-dup LEAK CLOSED: a plain per-doc split puts
    * near-identical documents on both sides of the train/eval wall
    * (the classic contamination bug honest eval pipelines must
    * prevent), so the split key is the near-dup CLUSTER canonical
    * (q54), not the doc — every member of a cluster inherits the
    * canonical's draw and whole clusters land on one side. Singletons
    * (docs in no near-dup pair) split on their own id, which IS their
    * canonical — one rule, no special case. Same md5 < 'e6' ≈ 90/10
    * draw as q50, so the two splits are comparable.
    *
    * Scale shape: q54's CC on the pair sliver + one left join of the
    * corpus against the member list; the split itself is a map-side
    * hash compare. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir).select(col("doc_id"))
      .join(dedupClusters(spark, dir).select(col("doc_id"),
        col("canonical_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
      .withColumn("split",
        when(md5(col("canonical_id").cast("string")) < "e6", "train")
          .otherwise("eval"))

  /** The q54 CTE chain (shingles → jaccard pairs → recursive-CTE
    * reachability), ending in `walk(node, lbl)` — shared by the q54 and
    * q129 oracles. */
  private val componentChainSql =
    """sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(0, greatest(len(t)-2, 0)),
      |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS shingle
      |  FROM (SELECT doc_id,
      |        string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      |        FROM documents)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a_id, b_id FROM inter
      |  JOIN sizes sa ON sa.doc_id = a_id
      |  JOIN sizes sb ON sb.doc_id = b_id
      |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
      |und AS (SELECT a_id AS src, b_id AS dst FROM pairs
      |        UNION ALL SELECT b_id, a_id FROM pairs),
      |walk(node, lbl) AS (
      |  SELECT src, src FROM und
      |  UNION
      |  SELECT u.dst, w.lbl FROM walk w JOIN und u ON u.src = w.node)""".stripMargin

  val oracle: Map[String, String] = Map(
    // q143: the q54 component chain, continued with the cluster-keyed
    // hash draw over ALL documents (left join restores singletons)
    "q143_leakage_safe_split" ->
      s"""WITH RECURSIVE $componentChainSql,
         |comp AS (SELECT node AS doc_id, min(lbl) AS canonical_id FROM walk GROUP BY node)
         |SELECT d.doc_id, coalesce(c.canonical_id, d.doc_id) AS canonical_id,
         |  CASE WHEN md5(CAST(coalesce(c.canonical_id, d.doc_id) AS VARCHAR)) < 'e6'
         |       THEN 'train' ELSE 'eval' END AS split
         |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id""".stripMargin,
    "q129_dedup_apply" ->
      // the q54 component chain, continued with the q29 quality argmax
      s"""WITH RECURSIVE $componentChainSql,
         |comp AS (SELECT node AS doc_id, min(lbl) AS canonical_id FROM walk GROUP BY node),
         |q AS (${graft.ops.TextAnalysis.qualitySql}),
         |member AS (SELECT c.doc_id, canonical_id, quality
         |           FROM comp c JOIN q ON q.doc_id = c.doc_id),
         |best AS (
         |  SELECT canonical_id, doc_id AS keep_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY canonical_id
         |      ORDER BY quality DESC, doc_id) AS rn FROM member)
         |  WHERE rn = 1)
         |SELECT m.doc_id, m.canonical_id, m.quality,
         |  CASE WHEN m.doc_id = b.keep_id THEN 'keep' ELSE 'drop' END AS action
         |FROM member m JOIN best b ON b.canonical_id = m.canonical_id""".stripMargin,
    // reachability via recursive CTE: every label a node can reach;
    // component id = the minimum — identical semantics to the propagation
    "q54_dedup_clusters" ->
      s"""WITH RECURSIVE $componentChainSql
         |SELECT node AS doc_id, min(lbl) AS canonical_id
         |FROM walk GROUP BY node""".stripMargin,
  )
}
