package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches. `approx_count_distinct` exists as a
  * built-in, but its HLL++ register layout is engine-private — useless
  * when the sketch itself must be STORED (a per-shard statistics file a
  * loader merges later) or recomputed bit-identically by another engine.
  * This is the portable construction: md5-derived registers any SQL
  * engine reproduces exactly, so the ORACLE checks the full register
  * table, not a tolerance band.
  *
  * Construction (Flajolet et al., "HyperLogLog", AofA 2007; p = 8,
  * m = 256 registers, stderr ≈ 1.04/√m ≈ 6.5%): value → 60-bit
  * md5-derived h; bucket = h mod m; rho = 1 + index of the lowest set
  * bit of w = h div m (trailing-zero count, computed branch-free as
  * bit_count((w & −w) − 1) + 1 — uniform bits make trailing and leading
  * geometrically identical, and this form needs no float log in either
  * engine); register r_b = max rho. Σ and max are what make it a
  * sketch: inserts commute, duplicates are free, and two sketches merge
  * by element-wise max (SketchSpec proves merge(A, B) = sketch(A ∪ B)).
  *
  * Scale shape: one groupBy over (group, bucket) with map-side partial
  * max — the shuffle carries ≤ groups × 256 rows regardless of input
  * size, the property that lets a 100 TB scan emit per-partition
  * sketches and reduce them centrally. */
object Sketches {

  private val P = 8
  private val M = 1 << P // 256 registers

  /** q101: per-returnflag HLL registers over lineitem order keys. */
  def hllRegisters(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), expr(
        "CAST(conv(substring(md5(CAST(l_orderkey AS STRING)), 1, 15), 16, 10) AS BIGINT)")
        .as("h"))
      .select(col("l_returnflag"), (col("h") % M).as("bucket"), expr(
        s"""CASE WHEN (h div $M) = 0 THEN 53
           |  ELSE bit_count(((h div $M) & -(h div $M)) - 1) + 1 END""".stripMargin)
        .as("rho"))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(max(col("rho")).cast("int").as("r"))

  /** The raw-estimate functional of a register map (no small/large-range
    * correction — callers are in the mid range; absent buckets count as
    * rho 0). Exposed for specs and for loaders consuming stored
    * sketches. */
  def estimate(registers: Map[Int, Int]): Double = {
    val alpha = 0.7213 / (1 + 1.079 / M)
    val s = (0 until M).map(b => math.pow(2.0, -registers.getOrElse(b, 0))).sum
    alpha * M * M / s
  }

  /** q114: the MERGE half of the sketch workflow — the reason a portable
    * sketch exists at all. q101's per-group register tables stand in for
    * per-shard sketch files; merging is element-wise max over buckets
    * (one tiny groupBy — ≤ 256 rows in), and the merged estimate is then
    * read off WITHOUT rescanning the inputs: the 100 TB pattern is "each
    * ingest shard writes its 256-row sketch; a global distinct count is
    * a metadata-sized merge", and this query is that pattern end-to-end,
    * oracle-checked.
    *
    * Determinism: the harmonic sum Σ 2^−rho is kept EXACT by scaling to
    * the integer S = Σ 2^(53−rho) (rho ∈ [1,53]; each absent bucket adds
    * 2^53; S ≤ 256·2^53 = 2^61 fits BIGINT), so the only float ops are
    * one int64→double conversion and one division — both correctly
    * rounded identically in any IEEE-754 engine — followed by the alpha
    * constant written as the SAME literal arithmetic in both engines.
    * No pow(), no order-dependent float summation, no tolerance band. */
  def hllMergedEstimate(spark: SparkSession, dir: String): DataFrame = {
    val perGroup = hllRegisters(spark, dir) // (l_returnflag, bucket, r)
    val merged = perGroup.groupBy(col("bucket"))
      .agg(max(col("r")).as("r"))
      .select(lit("merged").as("scope"), col("bucket"), col("r"))
    val all = perGroup
      .select(concat(lit("flag:"), col("l_returnflag")).as("scope"), col("bucket"), col("r"))
      .unionAll(merged)
    all.groupBy(col("scope"))
      .agg(count(lit(1)).as("present"),
        sum(expr("CAST(1 AS BIGINT) << (53 - r)")).as("s_present"))
      .select(col("scope"), round(
        lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) * lit(65536.0) *
          lit(9007199254740992.0) /
          (col("s_present") + (lit(M.toLong) - col("present")) * lit(1L << 53))
            .cast("double"),
        3).as("est"))
  }

  /** q121: set-operation estimates over stored sketches — the question a
    * sketch store actually answers: "how many order keys do returnflag
    * segments share?" |A∩B| = est(A) + est(B) − est(A∪B) by
    * inclusion–exclusion, where est(A∪B) is the element-wise-max merge
    * (q114) — three estimates read off TWO stored 256-row register
    * tables, no rescan of the data. Same exact-integer harmonic-sum
    * determinism as q114; the intersection estimate inherits ~3× the
    * union's relative error (the known HLL inclusion–exclusion caveat,
    * documented rather than hidden — SketchSpec bounds it against the
    * exact intersection). Pairs are ordered a < b lexicographically. */
  def hllIntersections(spark: SparkSession, dir: String): DataFrame = {
    val regs = hllRegisters(spark, dir) // (l_returnflag, bucket, r)
    // per-pair union sketch = element-wise max over the two register
    // sets (the q114 merge shape; a bucket absent in one sketch keeps
    // the other's rho, which a shared-bucket inner join would drop)
    val flags = regs.select(col("l_returnflag")).distinct()
    val pairs = flags.as("x").join(flags.as("y"),
      col("x.l_returnflag") < col("y.l_returnflag"))
      .select(col("x.l_returnflag").as("fa"), col("y.l_returnflag").as("fb"))
    val merged = pairs.join(regs,
        col("l_returnflag") === col("fa") || col("l_returnflag") === col("fb"))
      .groupBy(col("fa"), col("fb"), col("bucket"))
      .agg(max(col("r")).as("r"))
    def estCol(sPresent: org.apache.spark.sql.Column,
               present: org.apache.spark.sql.Column) =
      lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) * lit(65536.0) *
        lit(9007199254740992.0) /
        (sPresent + (lit(M.toLong) - present) * lit(1L << 53)).cast("double")
    val unionEst = merged.groupBy(col("fa"), col("fb"))
      .agg(count(lit(1)).as("present"),
        sum(expr("CAST(1 AS BIGINT) << (53 - r)")).as("s_present"))
      .select(col("fa"), col("fb"),
        estCol(col("s_present"), col("present")).as("est_union"))
    val single = regs.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("present"),
        sum(expr("CAST(1 AS BIGINT) << (53 - r)")).as("s_present"))
      .select(col("l_returnflag"),
        estCol(col("s_present"), col("present")).as("est"))
    unionEst
      .join(single.select(col("l_returnflag").as("fa"), col("est").as("est_a")), "fa")
      .join(single.select(col("l_returnflag").as("fb"), col("est").as("est_b")), "fb")
      .select(col("fa"), col("fb"),
        round(col("est_a"), 3).as("est_a"),
        round(col("est_b"), 3).as("est_b"),
        round(col("est_union"), 3).as("est_union"),
        round(col("est_a") + col("est_b") - col("est_union"), 3).as("est_inter"))
  }

  /** q116: mergeable fixed-grid quantile sketch over l_extendedprice —
    * the portable answer to "approximate quantiles over 100 TB, refreshed
    * per shard": a histogram on a FIXED equi-width grid is a sketch
    * (per-shard count vectors add; SketchSpec proves the merge law), and
    * a φ-quantile reads off as the first bucket whose cumulative count
    * reaches ⌈φ·n⌉, reported as that bucket's upper edge — error ≤ one
    * grid step (hi−lo)/buckets by construction, with NO per-value state
    * (contrast t-digest/KLL: tighter, but engine-private layouts).
    * The grid (lo, hi, buckets) is the sketch's schema: shards must
    * share it, exactly like q101's register count. Here the bounds come
    * from one min/max pass (itself mergeable); a production pipeline
    * pins them per epoch.
    *
    * Determinism: bucket = floor((x−lo)/(hi−lo)·buckets) is three
    * correctly-rounded IEEE ops both engines perform identically; the
    * shuffle carries ≤ `buckets` count rows, and the cumulative window
    * runs over the ≤ `buckets`-row SKETCH, never the data. */
  def gridQuantiles(spark: SparkSession, dir: String, buckets: Int = 4096,
                    phis: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)): DataFrame =
    gridQuantilesOf(
      Tables.lineitem(spark, dir).select(col("l_extendedprice").as("x")),
      buckets, phis)

  /** Same sketch over an arbitrary single-column frame `x` (spec entry
    * for degenerate inputs — e.g. a constant column, where every value
    * lands in bucket 0 and each estimate degrades to lo). */
  private[graft] def gridQuantilesOf(x0: DataFrame, buckets: Int,
                                     phis: Seq[Double]): DataFrame = {
    require(buckets >= 2 && phis.nonEmpty && phis.forall(p => p > 0 && p <= 1))
    val x = x0
    val bounds = x.agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
      count(lit(1)).as("n"))
    val counts = x.crossJoin(broadcast(bounds))
      .select(least(
        when(col("hi") === col("lo"), lit(0.0))
          .otherwise(floor((col("x") - col("lo")) / (col("hi") - col("lo")) * buckets)),
        lit((buckets - 1).toDouble)).cast("int").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
    val cum = counts.withColumn("cum", sum(col("cnt")).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("b"))))
    val targets = bounds.select(
      explode(array(phis.map(lit(_)): _*)).as("phi"),
      col("lo"), col("hi"), col("n"))
      .withColumn("target", ceil(col("phi") * col("n")).cast("long"))
    targets.join(cum, col("cum") >= col("target"))
      .groupBy(col("phi"), col("lo"), col("hi"), col("target"))
      .agg(min(col("b")).as("b"))
      .select(col("phi"), col("target"),
        (col("lo") + (col("hi") - col("lo")) / lit(buckets.toDouble) *
          (col("b") + lit(1)).cast("double")).as("est"))
  }

  /** q141 count–min dimensions: d rows × w buckets. ε = e/w ≈ 0.27%
    * of stream length per point query, δ = e^−d ≈ 1.8% failure — the
    * Cormode–Muthukrishnan sizing; both are knobs at deployment. */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 1024

  /** q141: count–min sketch registers over the corpus TOKEN stream
    * (Cormode & Muthukrishnan, J. Algorithms 2005) — the frequency
    * companion to q101's cardinality registers and the mergeable
    * complement to q135's exact heavy hitters: point-queryable
    * approximate counts over an unbounded key space in fixed memory.
    * est(x) = min over rows r of reg[r][h_r(x)] is a one-sided
    * overestimate (collisions only ADD); two sketches merge by
    * element-wise SUM, so per-shard sketches reduce centrally —
    * SketchSpec proves both the guarantee and the merge law.
    *
    * Portable construction (the q101 rule): row hashes are
    * md5-derived (`md5(r || ':' || token)` mod w), so any engine
    * reproduces the register table bit-identically and the oracle
    * checks it exactly, not within a tolerance.
    *
    * Scale shape: one groupBy over (r, bucket) with map-side partial
    * counts — the shuffle carries ≤ d·w rows regardless of corpus
    * size. */
  def cmsRegisters(spark: SparkSession, dir: String,
                   depth: Int = CmsDepth, width: Int = CmsWidth): DataFrame =
    cmsOf(Tables.documents(spark, dir), depth, width)

  /** The sketch over an explicit documents frame — the seam SketchSpec
    * uses to prove the merge law on disjoint sub-corpora. */
  private[graft] def cmsOf(docs: DataFrame,
                           depth: Int = CmsDepth,
                           width: Int = CmsWidth): DataFrame = {
    require(depth >= 1 && width >= 2)
    docs
      .select(explode(Dedup.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .select(posexplode(expr(
        s"""transform(sequence(0, ${depth - 1}),
           |  r -> CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', tok)), 1, 15), 16, 10) AS BIGINT) % $width)"""
          .stripMargin)))
      .select(col("pos").as("r"), col("col").as("bucket"))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Counter budget for q135 — fewer counters than the 26-letter
    * alphabet, so decrement/merge-subtract paths genuinely fire, while
    * the guarantee still catches every char above the 1/16 frequency
    * threshold. */
  private[graft] val MgCounters = 16

  /** q135: exact heavy hitters over the corpus CHARACTER stream via a
    * Misra-Gries candidate pass + exact recount — the two-pass shape
    * that finds "keys above φ·N frequency" over an unbounded key space
    * in one streaming scan plus one bounded verification.
    *
    * Pass 1 is the [[graft.functions.MisraGriesAgg]] summary (k fixed
    * counters, mergeable, map-side partial aggregation; each input ROW
    * feeds the whole document's characters, so no per-char explode
    * ever materializes). Its PODS'12 guarantee — undercount ≤ N/(k+1) —
    * makes the ≤ k survivors a provable superset of every character
    * with count > N/k. Pass 2 recounts ONLY those candidates exactly:
    * the ≤ k-row candidate list broadcast-joins back over the corpus
    * and per-doc occurrence counts come from the codegen'd
    * length-difference (no explode again), then one 16-group groupBy.
    * The final filter cnt·k > N is integer-exact, so the OUTPUT is
    * sketch-free exact — the oracle states the plain GROUP BY/HAVING
    * semantics and must match hash-for-hash.
    *
    * Scale shape: pass 1 shuffles ≤ k counters per partition; pass 2
    * shuffles ≤ k rows per partition. Nothing corpus-sized ever moves. */
  def heavyHitters(spark: SparkSession, dir: String,
                   k: Int = MgCounters): DataFrame = {
    require(k >= 1, "counter budget must be positive")
    val stripped = Tables.documents(spark, dir)
      .select(regexp_replace(Dedup.normText(col("text")), " ", "").as("t"))
    val mg = udaf(new graft.functions.MisraGriesAgg(k))
    // Pass 1 carries the total character count N alongside the MG
    // summary — same scan, so the whole operator really is two corpus
    // reads as the docstring claims.
    val cand = stripped
      .agg(mg(col("t")).as("cand"), sum(length(col("t"))).cast("long").as("n"))
      .select(explode(col("cand")).as("ch"), col("n"))
    stripped.crossJoin(broadcast(cand))
      .select(col("ch"), col("n"),
        (length(col("t")) - length(expr("replace(t, ch, '')"))).cast("long").as("c"))
      .groupBy(col("ch"), col("n")).agg(sum(col("c")).as("cnt"))
      .filter(col("cnt") * lit(k.toLong) > col("n"))
      .select(col("ch"), col("cnt"), col("n"))
  }

  val oracle: Map[String, String] = Map(
    "q141_cms_registers" ->
      s"""WITH t AS (
         |  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
         |  FROM documents),
         |e AS (
         |  SELECT r, CAST('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 15) AS BIGINT) % $CmsWidth AS bucket
         |  FROM t, (SELECT unnest(range(0, $CmsDepth)) AS r) WHERE tok <> '')
         |SELECT CAST(r AS INT) AS r, bucket, CAST(count(*) AS BIGINT) AS cnt
         |FROM e GROUP BY 1, 2""".stripMargin,
    "q135_heavy_hitters" ->
      s"""WITH st AS (SELECT replace(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ', '') AS t
         |  FROM documents),
         |ag AS (SELECT c AS ch, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(t, '')) AS c FROM st) GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM ag)
         |SELECT ch, cnt, n FROM ag, tot WHERE cnt * $MgCounters > n""".stripMargin,
    "q121_hll_intersect" ->
      s"""WITH regs AS (
         |  SELECT l_returnflag, bucket, CAST(max(rho) AS INT) AS r FROM (
         |    SELECT l_returnflag, h % $M AS bucket,
         |      CASE WHEN (h // $M) = 0 THEN 53
         |           ELSE bit_count(((h // $M) & -(h // $M)) - 1) + 1 END AS rho
         |    FROM (SELECT l_returnflag,
         |            CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |          FROM lineitem))
         |  GROUP BY 1, 2),
         |flags AS (SELECT DISTINCT l_returnflag FROM regs),
         |pairs AS (SELECT x.l_returnflag AS fa, y.l_returnflag AS fb
         |          FROM flags x JOIN flags y ON x.l_returnflag < y.l_returnflag),
         |single AS (
         |  SELECT l_returnflag,
         |    0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0 * 9007199254740992.0e0
         |      / CAST(sum(CAST(1 AS BIGINT) << (53 - r))
         |             + ($M - count(*)) * (CAST(1 AS BIGINT) << 53) AS DOUBLE) AS est
         |  FROM regs GROUP BY 1),
         |pu AS (
         |  SELECT fa, fb, bucket, max(r) AS r
         |  FROM pairs JOIN regs ON l_returnflag = fa OR l_returnflag = fb
         |  GROUP BY 1, 2, 3),
         |uest AS (
         |  SELECT fa, fb,
         |    0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0 * 9007199254740992.0e0
         |      / CAST(sum(CAST(1 AS BIGINT) << (53 - r))
         |             + ($M - count(*)) * (CAST(1 AS BIGINT) << 53) AS DOUBLE) AS est_union
         |  FROM pu GROUP BY 1, 2)
         |SELECT fa, fb, round(a.est, 3) AS est_a, round(b.est, 3) AS est_b,
         |  round(est_union, 3) AS est_union,
         |  round(a.est + b.est - est_union, 3) AS est_inter
         |FROM uest JOIN single a ON a.l_returnflag = fa
         |          JOIN single b ON b.l_returnflag = fb""".stripMargin,
    "q116_grid_quantiles" ->
      """WITH x AS (SELECT l_extendedprice AS x FROM lineitem),
        |bounds AS (SELECT min(x) AS lo, max(x) AS hi, count(*) AS n FROM x),
        |counts AS (
        |  SELECT CAST(least(CASE WHEN hi = lo THEN 0.0e0
        |                         ELSE floor((x - lo) / (hi - lo) * 4096) END,
        |                    4095.0e0) AS INT) AS b, count(*) AS cnt
        |  FROM x, bounds GROUP BY 1),
        |cum AS (SELECT b, sum(cnt) OVER (ORDER BY b) AS cum FROM counts),
        |targets AS (
        |  SELECT phi, lo, hi, CAST(ceil(phi * n) AS BIGINT) AS target
        |  FROM bounds, (SELECT unnest([0.25e0, 0.5e0, 0.75e0, 0.9e0, 0.99e0]) AS phi))
        |SELECT phi, target,
        |  lo + (hi - lo) / 4096.0e0 * CAST(min_b + 1 AS DOUBLE) AS est
        |FROM (
        |  SELECT phi, lo, hi, target, min(b) AS min_b
        |  FROM targets JOIN cum ON cum >= target
        |  GROUP BY 1, 2, 3, 4)""".stripMargin,
    "q114_hll_merge" ->
      s"""WITH regs AS (
         |  SELECT l_returnflag, bucket, CAST(max(rho) AS INT) AS r FROM (
         |    SELECT l_returnflag, h % $M AS bucket,
         |      CASE WHEN (h // $M) = 0 THEN 53
         |           ELSE bit_count(((h // $M) & -(h // $M)) - 1) + 1 END AS rho
         |    FROM (SELECT l_returnflag,
         |            CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |          FROM lineitem))
         |  GROUP BY 1, 2),
         |scoped AS (
         |  SELECT 'flag:' || l_returnflag AS scope, bucket, r FROM regs
         |  UNION ALL
         |  SELECT 'merged' AS scope, bucket, max(r) AS r FROM regs GROUP BY 1, 2)
         |SELECT scope, round(
         |    0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0 * 9007199254740992.0e0
         |      / CAST(sum(CAST(1 AS BIGINT) << (53 - r))
         |             + ($M - count(*)) * (CAST(1 AS BIGINT) << 53) AS DOUBLE),
         |  3) AS est
         |FROM scoped GROUP BY 1""".stripMargin,
    "q101_hll_registers" ->
      s"""SELECT l_returnflag, bucket, CAST(max(rho) AS INT) AS r FROM (
         |  SELECT l_returnflag, h % $M AS bucket,
         |    CASE WHEN (h // $M) = 0 THEN 53
         |         ELSE bit_count(((h // $M) & -(h // $M)) - 1) + 1 END AS rho
         |  FROM (SELECT l_returnflag,
         |          CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |        FROM lineitem))
         |GROUP BY 1, 2""".stripMargin,
  )
}
