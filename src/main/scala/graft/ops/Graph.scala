package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Iterative graph analytics beyond connected components (Clusters.scala):
  * PageRank (Page, Brin, Motwani, Winograd 1999) — the standard "which
  * nodes matter" centrality a crawl-curation pipeline runs over its host
  * graph to prioritize fetching and weight domains (the CommonCrawl
  * harmonic/PageRank host ranking). Demonstrated on the orders↔customer
  * bipartite graph (node = 2·orderkey / 2·custkey+1 — the parity trick
  * keeps the two key namespaces disjoint in one BIGINT space).
  *
  * Scale design: each power iteration is ONE shuffle (join ranks to the
  * degree-annotated edge list on src, re-aggregate on dst); the edge list
  * is persisted once with its out-degrees and reused by all iterations,
  * and the node count rides a 1-row broadcast instead of a driver
  * collect. Iteration count is fixed (default 10) — the production
  * shape for rank computation, where convergence-to-tolerance is not
  * worth a per-round driver sync. Undirected edges mean no dangling
  * nodes (every node has in- and out-edges), so no dangling-mass
  * redistribution term is needed.
  *
  * Oracle design: the same 10 iterations UNROLLED as chained CTEs (a
  * recursive CTE cannot aggregate in the recursive term); double
  * summation order differs across engines by ~1e-15 relative, so ranks
  * are reported ×N (O(1) values) rounded to 5 dp, and the top-50 cut
  * ties break on the node id. */
object Graph {

  /** Power iteration over an UNDIRECTED edge list `(src, dst)` (each
    * edge listed in both directions, no self-loops): returns
    * (node, rank, n) with Σ rank = 1. The `n` column carries the node
    * count so callers can normalize without a second pass. */
  private[graft] def rankTable(edges: DataFrame, iters: Int,
                               damping: Double): DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // one degree-annotated edge list feeds every iteration — shared
    // until the (node-count-sized) rank table is materialized
    Materialize.shared(edges.join(deg, "src")) { ed =>
      val nodes = deg.select(col("src").as("node"))
      val nn = nodes.agg(count(lit(1)).as("n"))
      // n enters ONCE as an initial-rank column and stays group-constant
      // through every iteration — no per-round broadcast join
      var ranks = nodes.crossJoin(broadcast(nn))
        .select(col("node"), (lit(1.0) / col("n")).as("rank"), col("n"))
      for (i <- 1 to iters) {
        ranks = iterate(ed, ranks, damping)
        // lineage truncation (the Clusters.scala pattern), BATCHED every
        // 3 rounds: an eager checkpoint is a full job, and on a real
        // cluster every job pays scheduler latency, so letting a few
        // rounds compose into one job cuts the job count ~3× while plans
        // stay shallow enough that analysis cost never compounds (a
        // monolithic iters-deep tree would). Local A/B at sf0.1 measures
        // 1 vs 3 vs 5 within run-to-run noise — the per-iteration cost
        // there is the shuffle, not the checkpoint. Retained blocks are
        // node-count-sized rank vectors, ~MBs even at web scale.
        if (i % 3 == 0 && i < iters) ranks = ranks.localCheckpoint(true)
      }
      ranks.localCheckpoint(true)
    }
  }

  /** One power iteration: shuffle the contribution stream on dst, partial
    * sums map-side. The node count rides along as a constant COLUMN of
    * the rank frame (`first(n)` per group — 8 bytes/row) rather than a
    * per-round 1-row broadcast join: joining nn each round added a
    * BroadcastExchange + join stage to every iteration for a value that
    * never changes. Exposed so PlanSpec can pin the per-round plan shape
    * (the eager checkpointing in `rankTable` hides iteration internals
    * from the final plan). */
  private[graft] def iterate(ed: DataFrame, ranks: DataFrame,
                             damping: Double): DataFrame =
    ed.join(ranks, ed("src") === ranks("node"))
      .select(col("dst").as("node"), (col("rank") / col("d")).as("c"), col("n"))
      .groupBy(col("node")).agg(sum(col("c")).as("m"), first(col("n")).as("n"))
      .select(col("node"),
        ((lit(1.0) - lit(damping)) / col("n") + lit(damping) * col("m")).as("rank"),
        col("n"))

  /** q97: damped PageRank, top-50 nodes. */
  def pageRank(spark: SparkSession, dir: String,
               iters: Int = 10, damping: Double = 0.85): DataFrame = {
    // o_orderkey is the table's unique key, so each row already yields a
    // distinct (order, customer) pair — no dedup shuffle needed before
    // the iteration loop (the oracle's DISTINCT is equally a no-op)
    val ord = Tables.orders(spark, dir)
      .select((col("o_orderkey") * 2).as("src"), (col("o_custkey") * 2 + 1).as("dst"))
    val edges = ord.union(ord.select(col("dst").as("src"), col("src").as("dst")))
    rankTable(edges, iters, damping)
      .select(
        when(col("node") % 2 === 0, "order").otherwise("customer").as("kind"),
        expr("node div 2").as("key"),
        round(col("rank") * col("n"), 5).as("pr"),
        col("node"))
      .orderBy(desc("pr"), asc("node"))
      .limit(50)
      .select(col("kind"), col("key"), col("pr"))
  }

  /** HITS iteration count — fixed, unrolled identically in the oracle. */
  private[graft] val HitsIters = 8

  /** q176's per-round fixed-point snap grid (2³⁰). Hub scores are
    * max-normalized and rounded onto this integer grid once per round,
    * so every value entering a contribution sum is an exactly-
    * representable integer ≤ 2³⁰ and partial sums stay ≤ 2⁵³ — i.e.
    * order-free, Spark partition-order ≡ DuckDB serial bit-for-bit —
    * for any in-degree ≤ 2²³ and any per-round degree product
    * d_hub·d_auth ≤ 2²³ (~8.4M), versus the r14 deferred-normalization
    * bound of (d_hub·d_auth)^rounds ≤ 2⁵³ ⇔ degree product ≲ 100.
    * Snap quantization error is ABSOLUTE, not relative (ADVICE r15
    * item 2): round-to-grid moves a score by ≤ 2⁻³¹ of the per-round
    * MAX (half a grid unit), so a hub at fraction f of the round max
    * carries relative error ≤ 2⁻³¹/f — scores below 2⁻³¹ of the max
    * snap to 0 outright, which a power-law hub distribution's tail
    * will do. The top-25 read-out sits at f ≈ 1, where the
    * accumulated ~8 rounds × 2⁻³¹ ≈ 4·10⁻⁹ is three orders below the
    * 5-dp grid; cross-engine agreement is unaffected at ANY f because
    * the oracle replays the identical snap — only closeness to
    * UN-snapped HITS degrades in the tail, and the 1e-4-tolerance
    * reference test covers only the gate graph's near-max range. */
  private[graft] val HitsSnapScale = 1L << 30

  /** q176: HITS hubs & authorities (Kleinberg, JACM 1999) on the
    * order→part purchase graph (src = 2·l_orderkey, dst = 2·l_partkey+1,
    * q97's parity trick): hub orders buy many high-authority parts,
    * authority parts are bought by high-hub orders — the mutual-
    * reinforcement centrality a catalog/crawl pipeline uses where
    * PageRank's single score conflates the two roles. Power iteration,
    * [[HitsIters]] fixed rounds, hub scores max-normalized onto the
    * [[HitsSnapScale]] integer grid once per round (HITS scores are
    * direction only, so any per-round positive rescale is semantically
    * free), top-25 per role.
    *
    * Scale design (q97's economics doubled): the distinct edge list is
    * persisted ONCE and feeds every round; each round is two
    * contribution shuffles (dst-keyed then src-keyed, map-side partial
    * sums) plus one node-sliver max observed by the snap checkpoint
    * ([[Materialize.sliver]]: one O(1) driver value per round — no
    * second agg job, no per-round BroadcastExchange) — no window, no
    * corpus collect, state = one score row per node. The snap
    * checkpoint doubles as the per-round lineage truncation (the snap
    * reads its input twice — un-truncated that would re-execute
    * upstream 4^rounds, the blowup the oracle's MATERIALIZED CTEs
    * guard against).
    *
    * EXACTNESS (closes ADVICE r14 / VERDICT r14 item 2): the r14 form
    * deferred ALL scaling to read-out, so raw integer sums grew as
    * (d_hub·d_auth)^rounds and crossed 2⁵³ — where partition-order
    * partial sums stop commuting — at degree products ≳ 100. With the
    * per-round snap every summand is an integer ≤ 2³⁰ ([[HitsSnapScale]]
    * scaladoc has the bound arithmetic: exact through in-degree 2²³ and
    * per-round degree product 2²³). The snap itself is deterministic:
    * max() is order-free over exact integers, s/max is ONE correctly-
    * rounded IEEE division, ×2³⁰ is exact, and round-half-up on
    * positives matches DuckDB's round-half-away. The only remaining
    * cross-engine float exposure is the single read-out normalization —
    * q97's accepted ~1e-15-relative class, not compounded through
    * rounds.
    *
    * Oracle design = q97's: the same [[HitsIters]] rounds unrolled as
    * chained CTEs with the identical per-round snap expression; the
    * read-out normalizes once per side (score/Σ × n, O(1) values)
    * rounded at 5 dp with ties cut on node id. */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    Materialize.shared(Tables.lineitem(spark, dir)
      .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()) { edges =>
      // Per-round max-snap (see the scaladoc's EXACTNESS paragraph): the
      // raw hub sums are materialized once with their max observed, the
      // max re-enters as a LITERAL (max over exact integers is order-free,
      // so it is the identical double on every engine), and every hub
      // score lands on the 2^30 integer grid before feeding the next
      // round's sums. Snapping the HUB side alone suffices: the auth
      // half-step then sums exact ints ≤ 2^30 (exact through in-degree
      // 2^23) and the hub half-step sums exact ints ≤ d_auth·2^30 (exact
      // through degree product 2^23) — the auth frame never needs its own
      // snap pass.
      def snap(raw: DataFrame): DataFrame = {
        // an EMPTY frame (no edges) selects no rows for any finite literal
        val (ckpt, m) = Materialize.sliver(raw)(coalesce(max(col("s")), lit(1.0)).as("mx"))
        ckpt.select(col("node"),
          round(col("s") / lit(m.getDouble(0)) * lit(HitsSnapScale), 0).as("s"))
      }
      var hubs = edges.select(col("src").as("node")).distinct()
        .select(col("node"), lit(1.0).as("s")).localCheckpoint(true)
      var auths: DataFrame = null
      for (i <- 1 to HitsIters) {
        auths = edges.join(hubs, edges("src") === hubs("node"))
          .groupBy(col("dst").as("node")).agg(sum(col("s")).as("s"))
        // final round only (r22): auths feeds BOTH the last hub half-step
        // and the read-out below — un-materialized, the read-out's
        // checkpoint re-ran the full edges⋈hubs shuffle+agg a second time.
        // One node-sliver checkpoint makes the edge-scale subtree execute
        // once (pure materialization barrier: values unchanged).
        if (i == HitsIters) auths = auths.localCheckpoint(true)
        hubs = snap(edges.join(auths, edges("dst") === auths("node"))
          .groupBy(col("src").as("node")).agg(sum(col("s")).as("s")))
      }
      // read-out: one L1 pass per side — score = s/Σs × n (O(1) values,
      // q97's ×n convention), 5 dp, ties cut on node id. Σs and n are
      // observed by the read-out checkpoint (both exact: s values are grid
      // integers, so the sum is order-free) — same trade as snap().
      def head(scores0: DataFrame, kind: String): DataFrame = {
        val (scores, m) = Materialize.sliver(scores0)(
          coalesce(sum(col("s")), lit(1.0)).as("t"), count(lit(1)).as("n"))
        scores.select(lit(kind).as("kind"), expr("node div 2").as("key"),
            round(col("s") / lit(m.getDouble(0)) * lit(m.getLong(1)), 5).as("score"),
            col("node"))
          .orderBy(desc("score"), asc("node")).limit(25)
          .select(col("kind"), col("key"), col("score"))
      }
      head(hubs, "order").unionAll(head(auths, "part")).localCheckpoint(true)
    }
  }

  /** q128: triangle counting by degree-ordered edge orientation (Suri &
    * Vassilvitskii, "Counting triangles and the curse of the last
    * reducer", WWW'11) over the category co-purchase graph (edges =
    * part-category pairs bought together in ≥ `minSupport` orders —
    * the q124 pair space). Each undirected edge orients low→high in the
    * total (degree, node) order, so every wedge is enumerated at its
    * LOWEST-degree vertex (out-degrees are bounded by √(2m), which is
    * what kills the "last reducer" hot key on power-law graphs), and a
    * triangle counts exactly once as wedge + closing edge. Output
    * carries edge/wedge/triangle counts so the driver hash checks the
    * intermediate cardinalities too.
    *
    * Bounded domain: a node is `l_partkey % 100`, so the graph has at
    * most 199 nodes and C(199, 2) = 19,701 edges at ANY scale. Only the
    * lineitem self-join that finds the edges is corpus-sized; it runs
    * distributed and its edge list is collected. Degrees, orientation,
    * wedges and closing edges are then counted on the driver, and the
    * counts come back as a one-row local frame. */
  def triangles(spark: SparkSession, dir: String,
                minSupport: Long = 20): DataFrame = {
    require(minSupport >= 1)
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), (col("l_partkey") % 100).as("cat"))
      .distinct()
    val und = items.as("a").join(items.as("b"), Seq("l_orderkey"))
      .filter(col("a.cat") < col("b.cat"))
      .groupBy(col("a.cat").as("u"), col("b.cat").as("v"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSupport)
      .select(col("u"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = und.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.length).toMap
    // orient low→high in the (degree, node) total order; out(x) holds
    // x's higher neighbors
    val out = und.map { case (u, v) =>
      if (deg(u) < deg(v) || (deg(u) == deg(v) && u < v)) (u, v) else (v, u)
    }.groupMap(_._1)(_._2)
    val edges = und.toSet
    val nWedges = out.values.map(d => d.length.toLong * (d.length - 1) / 2).sum
    // a wedge at x closes when its two higher neighbors share an edge
    val nTriangles = out.values.map { d =>
      (for (i <- d.indices; j <- i + 1 until d.length
            if edges((d(i) min d(j), d(i) max d(j)))) yield 1L).sum
    }.sum
    val schema = StructType(Seq("n_edges", "n_wedges", "n_triangles")
      .map(StructField(_, LongType, nullable = false)))
    spark.createDataFrame(
      java.util.List.of(Row(und.length.toLong, nWedges, nTriangles)), schema)
  }

  val oracle: Map[String, String] = {
    val iters = 10
    val chain = (1 to iters).map { k =>
      s"""r$k AS (SELECT node, 0.15/n + 0.85*m AS rank FROM (
         |  SELECT e.dst AS node, sum(r.rank/deg.d) AS m
         |  FROM r${k - 1} r JOIN edges e ON e.src = r.node JOIN deg ON deg.src = r.node
         |  GROUP BY 1) CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    // q176: the same unroll convention, with the Spark side's per-round
    // hub max-snap replayed verbatim — raw sums land in hr$k, the max
    // rides a scalar subquery, and h$k is the 2^30-grid integer snap
    // (s/max is one IEEE division, ×2^30 exact, round-half-away ≡
    // Spark's HALF_UP on positives). MATERIALIZED (DuckDB-only; the
    // oracle never parses in Spark) is load-bearing: the read-out and
    // the snap reference each level more than once, and default inlined
    // CTEs would re-execute the whole chain per reference.
    val hitsChain = (1 to HitsIters).map { k =>
      s"""a$k AS MATERIALIZED (SELECT e.dst AS node, sum(h.s) AS s
         |  FROM h${k - 1} h JOIN edges e ON e.src = h.node GROUP BY 1),
         |hr$k AS MATERIALIZED (SELECT e.src AS node, sum(a.s) AS s
         |  FROM a$k a JOIN edges e ON e.dst = a.node GROUP BY 1),
         |h$k AS MATERIALIZED (SELECT node,
         |  round(s / (SELECT max(s) FROM hr$k) * $HitsSnapScale, 0) AS s
         |  FROM hr$k)""".stripMargin
    }.mkString(",\n")
    Map(
      "q176_hits" ->
        s"""WITH edges AS MATERIALIZED (
           |  SELECT DISTINCT l_orderkey*2 AS src, l_partkey*2+1 AS dst FROM lineitem),
           |h0 AS MATERIALIZED (SELECT src AS node, 1.0 AS s
           |       FROM (SELECT DISTINCT src FROM edges)),
           |$hitsChain,
           |ho AS (SELECT 'order' AS kind, node // 2 AS key,
           |         round(s / (SELECT sum(s) FROM h$HitsIters)
           |           * (SELECT count(*) FROM h$HitsIters), 5) AS score, node
           |       FROM h$HitsIters ORDER BY score DESC, node LIMIT 25),
           |ao AS (SELECT 'part' AS kind, node // 2 AS key,
           |         round(s / (SELECT sum(s) FROM a$HitsIters)
           |           * (SELECT count(*) FROM a$HitsIters), 5) AS score, node
           |       FROM a$HitsIters ORDER BY score DESC, node LIMIT 25)
           |SELECT kind, key, score FROM ho
           |UNION ALL
           |SELECT kind, key, score FROM ao""".stripMargin,
      "q128_triangles" ->
        """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey % 100 AS cat FROM lineitem),
          |und AS (
          |  SELECT a.cat AS u, b.cat AS v FROM items a JOIN items b USING (l_orderkey)
          |  WHERE a.cat < b.cat GROUP BY 1, 2 HAVING count(*) >= 20),
          |deg AS (SELECT node, count(*) AS d FROM
          |  (SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
          |oe AS (
          |  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v) THEN u ELSE v END AS src,
          |         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v) THEN v ELSE u END AS dst
          |  FROM und JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
          |wedges AS (
          |  SELECT x.dst AS wu, y.dst AS wv
          |  FROM oe x JOIN oe y ON x.src = y.src
          |  JOIN deg dx ON dx.node = x.dst JOIN deg dy ON dy.node = y.dst
          |  WHERE (dx.d < dy.d) OR (dx.d = dy.d AND x.dst < y.dst))
          |SELECT (SELECT count(*) FROM und) AS n_edges,
          |  (SELECT count(*) FROM wedges) AS n_wedges,
          |  (SELECT count(*) FROM wedges w
          |   WHERE EXISTS (SELECT 1 FROM oe WHERE src = w.wu AND dst = w.wv)) AS n_triangles""".stripMargin,
      "q97_pagerank" ->
        s"""WITH e0 AS (SELECT DISTINCT o_orderkey*2 AS src, o_custkey*2+1 AS dst FROM orders),
           |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
           |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
           |nodes AS (SELECT DISTINCT src AS node FROM edges),
           |nn AS (SELECT count(*) AS n FROM nodes),
           |r0 AS (SELECT node, 1.0/n AS rank FROM nodes CROSS JOIN nn),
           |$chain
           |SELECT kind, key, pr FROM (
           |  SELECT CASE WHEN node % 2 = 0 THEN 'order' ELSE 'customer' END AS kind,
           |    node // 2 AS key, round(rank * n, 5) AS pr, node
           |  FROM r$iters CROSS JOIN nn
           |  ORDER BY pr DESC, node LIMIT 50)""".stripMargin,
    )
  }
}
