package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The standard analytic surface the reference lacks (SURVEY.md §2.5
  * "absent" row): window functions, rollup aggregates, set operations.
  * All plain Catalyst — hash/sort aggregates, window exec, no UDFs.
  */
object Relational {

  /** rank / row_number / lag / running sum per nation. The window order is
    * made total (acctbal desc, custkey) so lag/running-sum are
    * deterministic under any partitioning. */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    c.select(
      col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
      rank().over(w).as("rnk"),
      row_number().over(w).as("rn"),
      lag("c_acctbal", 1).over(w).as("prev_bal"),
      Tables.toDouble(sum(Tables.dec(col("c_acctbal")))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
        .as("run_sum"))
  }

  /** ROLLUP over region → nation with exact decimal totals. Subtotal rows
    * surface as 'ALL' (the dimension names are never null in-data, so
    * coalesce is unambiguous and avoids engine-specific grouping-id
    * encodings). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    enriched(spark, dir)
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        Tables.toDouble(sum(Tables.dec(col("o_totalprice"))), 2).as("sum_price"))
      .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
        coalesce(col("n_name"), lit("ALL")).as("n_name"),
        col("n_orders"), col("sum_price"))
  }

  /** UNION / INTERSECT / EXCEPT of the customer-nations vs supplier-nations
    * sets, tagged into one result. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val cn = Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nk")).distinct()
    val sn = Tables.supplier(spark, dir)
      .select(col("s_nationkey").as("nk")).distinct()
    cn.union(sn).distinct().withColumn("setop", lit("union"))
      .union(cn.intersect(sn).withColumn("setop", lit("intersect")))
      .union(cn.except(sn).withColumn("setop", lit("except")))
  }

  /** Shared enriched orders join (fact ⋈ dims, dims broadcast). */
  private def enriched(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
  }

  /** CUBE over (region, orderstatus): all 4 grouping combinations in one
    * pass (Expand + single shuffle, not 4 scans). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    enriched(spark, dir)
      .cube(col("r_name"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Tables.toDouble(sum(Tables.dec(col("o_totalprice"))), 2).as("sum_price"))
      .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        col("n_orders"), col("sum_price"))

  /** Explicit GROUPING SETS ((r_name), (o_orderstatus), ()) — the general
    * form rollup/cube compile to. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    enriched(spark, dir)
      .groupingSets(Seq(Seq(col("r_name")), Seq(col("o_orderstatus")), Seq()),
        col("r_name"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Tables.toDouble(sum(Tables.dec(col("o_totalprice"))), 2).as("sum_price"))
      .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        col("n_orders"), col("sum_price"))

  /** PIVOT order status → columns per nation (explicit value list keeps
    * the plan a single pass; an inferred pivot needs a distinct scan). */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame =
    enriched(spark, dir)
      .groupBy(col("n_name"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(Tables.toDouble(sum(Tables.dec(col("o_totalprice"))), 2))
      .select(col("n_name"), col("F").as("sum_f"), col("O").as("sum_o"),
        col("P").as("sum_p"))

  /** Exact percentiles (interpolated median and p90) + min/max per
    * return flag. Exact, not approx: both engines implement the same
    * linear interpolation, so the doubles agree bit-for-bit. */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.9)").as("p90"),
        min(col("l_quantity")).as("qmin"),
        max(col("l_quantity")).as("qmax"),
        count(lit(1)).as("n"))

  /** Multi-column DISTINCT aggregation in one pass (Expand-based; the
    * planner rewrites to partial aggregates — no per-group row explosion
    * reaches the reduce side). */
  def multiDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  /** posexplode (UDTF/Generator surface): token positions per document,
    * keeping only the leading window — the explode+aggregate shape of
    * I3 applied to ordered data. */
  def posExplodeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.ops.Dedup.tokens(col("text"))))
      .filter(col("pos") < 3 && col("col") =!= "")
      .groupBy(col("pos"), col("col").as("tok"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 5)

  /** Window-function breadth: distribution functions (ntile /
    * percent_rank / cume_dist) and frame-addressed values (first /
    * nth) over the same total order as q12. */
  def windowSuite(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    c.select(
      col("c_custkey"), col("c_nationkey"),
      ntile(4).over(w).as("quartile"),
      round(percent_rank().over(w), 9).as("pct_rank"),
      round(cume_dist().over(w), 9).as("cume"),
      first(col("c_custkey")).over(w).as("richest"),
      nth_value(col("c_custkey"), 2).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("second"))
  }

  /** Date/time surface over o_orderdate: parts, truncation, day
    * arithmetic, month boundaries — the portable subset (dayofweek
    * numbering and months_between semantics differ across engines and
    * are deliberately excluded). */
  def datetimeFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      quarter(col("o_orderdate")).as("q"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("d"),
      date_trunc("month", col("o_orderdate")).cast(org.apache.spark.sql.types.TimestampNTZType).as("month_start"),
      datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date")).as("days_to_eoy"),
      // surfaced as TIMESTAMP on both sides: DATE columns reach pandas as
      // datetime.date from Spark parquet but Timestamp from DuckDB
      last_day(col("o_orderdate").cast("date"))
        .cast(org.apache.spark.sql.types.TimestampNTZType).as("month_end"))

  /** String-function surface (portable subset shared with DuckDB):
    * pad, translate, repeat/reverse, left/right, position. */
  def stringSuite(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      lpad(col("p_brand"), 12, "*").as("padded"),
      translate(col("p_name"), "aeiou", "AEIOU").as("xlated"),
      reverse(col("p_type")).as("rev"),
      expr("left(p_name, 4)").as("l4"),
      expr("right(p_name, 3)").as("r3"),
      expr("repeat('-', p_size % 5)").as("dashes"),
      expr("instr(p_name, 'a')").as("first_a"))

  /** Higher-order array function surface over the embedding vectors:
    * transform / filter / exists / forall / aggregate — the lambda
    * algebra (portably mirrored via DuckDB list_* functions). */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      expr("size(filter(embedding, x -> x > 0))").as("n_pos"),
      expr("exists(embedding, x -> x > 2.0)").as("has_big"),
      expr("forall(embedding, x -> abs(x) < 10.0)").as("all_small"),
      expr("CAST(round(aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (a, x) -> a + abs(x)), 4) AS DOUBLE)")
        .as("l1_norm"),
      expr("size(array_distinct(transform(embedding, x -> CAST(sign(x) AS INT))))")
        .as("n_signs"))

  /** UNPIVOT (the inverse of q42): wide per-size part metrics back to
    * (key, metric, value) rows via the melt/stack shape. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        col("p_size").cast("double").as("size"),
        col("p_retailprice").as("price"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("price")),
        "metric", "value")

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): keys where NULL
    * matches NULL — the semantics pandas users expect and SQL `=`
    * doesn't give (q03 tests the `=` side). Nulls are injected
    * deterministically (every 7th key). */
  def nullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_custkey")).as("k"),
        col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .select(when(col("o_custkey") % 7 === 0, lit(null)).otherwise(col("o_custkey")).as("k"),
        col("o_orderkey"))
    c.join(o, c("k") <=> o("k"))
      .groupBy(col("c_custkey"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Multiset set operations: EXCEPT ALL / INTERSECT ALL keep
    * duplicates with bag semantics (q14 covers the DISTINCT forms). */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.lineitem(spark, dir).select(col("l_orderkey").as("k"))
      .filter(col("k") % 3 === 0)
    val b = Tables.lineitem(spark, dir).select(col("l_orderkey").as("k"))
      .filter(col("k") % 2 === 0)
    a.exceptAll(b).withColumn("setop", lit("except_all"))
      .union(a.intersectAll(b).withColumn("setop", lit("intersect_all")))
      .groupBy(col("setop")).agg(count(lit(1)).as("n"), countDistinct(col("k")).as("n_keys"))
  }

  /** The SQL front end itself: a correlated-subquery query submitted as
    * TEXT through spark.sql over registered views — parser/analyzer
    * surface, not just the DataFrame DSL. (DuckDB runs the identical
    * statement.) */
  def sqlFrontend(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT c_custkey, c_name,
        |  (SELECT count(*) FROM orders_v o WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders_v o
        |   WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F') AS max_f_price
        |FROM customer_v c
        |WHERE EXISTS (SELECT 1 FROM orders_v o WHERE o.o_custkey = c.c_custkey)""".stripMargin)
  }

  /** Right outer join (completes the outer-join family with q03 left and
    * q11 full): all orders kept, customer attributes where present. */
  def rightJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_custkey") % 5 === 0)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "right")
      .select(o("o_orderkey"), o("o_custkey"), c("c_name"), c("c_acctbal"))
  }

  /** RANGE window frame: value-based framing (all rows within ±100.0 of
    * the current acctbal) — complements q12's ROWS framing. */
  def rangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal"))
      .rangeBetween(-100L, 100L)
    Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
      count(lit(1)).over(w).as("n_near"),
      Tables.toDouble(sum(Tables.dec(col("c_acctbal"))).over(w), 2).as("sum_near"))
  }

  /** Column profiling (the describe()/summary() surface made
    * deterministic): counts, nulls, distincts, min/max, decimal-exact
    * mean, and a fixed-width 10-bucket histogram — the pre-training data
    * audit a pipeline runs before committing to a corpus. */
  def numericProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // Plan shape pinned by round 8's same-session A/B (AB_r08.json):
    //  - NOT constant group keys (round 7's form): riding the stats
    //    through the histogram hash aggregate as 6 extra key columns
    //    hashes wide keys per input row — measured 3.9× slower;
    //  - NOT one mixed distinct+plain aggregate: countDistinct beside
    //    plain aggs plans an Expand (every row duplicated per grouping
    //    set), and an eager materialization of it serializes that job;
    //  - INSTEAD the distinct count is its own aggregate (hash-distinct,
    //    no Expand) and each 1-row table rides its own broadcast — the
    //    broadcast jobs overlap each other and the histogram scan.
    val stats = li.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_extendedprice").isNull, 1L).otherwise(0L)).as("n_null"),
      min(col("l_extendedprice")).as("vmin"),
      max(col("l_extendedprice")).as("vmax"),
      Tables.toDouble(sum(Tables.dec(col("l_extendedprice"))), 2).as("vsum"))
      .withColumn("mean", round(col("vsum") / col("n_rows"), 6))
    val nd = li.select(col("l_extendedprice").as("v"))
      .filter(col("v").isNotNull).distinct()
      .agg(count(lit(1)).as("n_distinct"))
    val hist = li.crossJoin(broadcast(stats.select(col("vmin"), col("vmax"))))
      .withColumn("bucket",
        least(floor((col("l_extendedprice") - col("vmin")) * 10.0 /
          (col("vmax") - col("vmin"))), lit(9L)).cast("int"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_in_bucket"))
    hist.crossJoin(broadcast(stats)).crossJoin(broadcast(nd))
      .select(col("bucket"), col("n_in_bucket"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("vmin"), col("vmax"), col("mean"))
  }

  /** Ordered collection aggregate: per nation, the sorted top-account
    * customer keys as one array-valued result (serialized for the
    * compare). Deterministic because the collected set is sorted. */
  def arrayAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        concat_ws(",", sort_array(collect_list(col("c_custkey")))).as("top_keys"))

  /** The partial-aggregate state columns shared by q117's base, delta,
    * and merge: all ALGEBRAIC (sum/count/min/max merge by
    * sum/sum/min/max), which is what makes incremental refresh exact. */
  private def aggState(df: DataFrame): DataFrame =
    df.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec(col("l_quantity"))).as("sum_qty"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"))

  /** q117: incremental aggregate maintenance — the materialized-view
    * refresh every standing 100 TB metrics table needs: the corpus
    * aggregate lives as a per-key STATE table; when a delta batch
    * arrives, the state is refreshed by aggregating ONLY the delta and
    * merging state-wise (full-outer on the key; sums add, counts add,
    * min/max take extrema; avg derives from merged sum/count at read
    * time — never stored, since avg is not algebraic). Refresh cost is
    * O(delta + |state table|), independent of the base corpus size —
    * the whole point. The oracle aggregates base ∪ delta from scratch,
    * so the driver check IS the refresh-equals-recompute theorem for
    * this key space.
    *
    * Base/delta are deterministic mod-slices of lineitem so the oracle
    * can mirror them; in production they are "yesterday's state" and
    * "today's load". */
  def incrementalAgg(spark: SparkSession, dir: String,
                     deltaMod: Int = 4): DataFrame = {
    require(deltaMod >= 2, "need a non-trivial base/delta split")
    val li = Tables.lineitem(spark, dir)
    val base = aggState(li.filter(col("l_orderkey") % deltaMod =!= 0))
    val delta = aggState(li.filter(col("l_orderkey") % deltaMod === 0))
    val b = base.as("b")
    val d = delta.as("d")
    b.join(d,
        col("b.l_returnflag") <=> col("d.l_returnflag") &&
          col("b.l_linestatus") <=> col("d.l_linestatus"), "full_outer")
      .select(
        coalesce(col("b.l_returnflag"), col("d.l_returnflag")).as("l_returnflag"),
        coalesce(col("b.l_linestatus"), col("d.l_linestatus")).as("l_linestatus"),
        (coalesce(col("b.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
        (coalesce(col("b.sum_qty"), lit(0).cast("decimal(18,6)")) +
          coalesce(col("d.sum_qty"), lit(0).cast("decimal(18,6)"))).as("sq"),
        least(col("b.min_ship"), col("d.min_ship")).as("min_ship"),
        greatest(col("b.max_ship"), col("d.max_ship")).as("max_ship"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        Tables.toDouble(col("sq"), 2).as("sum_qty"),
        // avg derives at read time in DOUBLE (one division over two
        // exactly-converted operands): decimal division would round at
        // an engine-specific result scale
        (Tables.toDouble(col("sq"), 2) / col("n").cast("double")).as("avg_qty"),
        col("min_ship"), col("max_ship"))
  }

  /** q124: market-basket co-occurrence — the a-priori first step over
    * order baskets: top part-category pairs bought together. Pair
    * enumeration is PER ORDER (self-join co-located on the order key,
    * ≤ (items/order)² pairs each — basket size bounds the blowup, never
    * corpus size), counts combine map-side, and the cut is a bounded
    * TakeOrderedAndProject with a total (n desc, ca, cb) order. */
  def basketPairs(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    require(topK >= 1)
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), (col("l_partkey") % 100).as("cat"))
      .distinct()
    items.as("a").join(items.as("b"), Seq("l_orderkey"))
      .filter(col("a.cat") < col("b.cat"))
      .groupBy(col("a.cat").as("ca"), col("b.cat").as("cb"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("ca"), asc("cb"))
      .limit(topK)
  }

  /** q126: association rules — the a-priori second step over q124's
    * pair counts: directed rules ca → cb with support (basket count),
    * confidence n_ab/n_a, and lift n_ab·N/(n_a·n_b), minimum-support
    * pruned, top-k by lift. All three metrics are single divisions /
    * multiplications over exact integer counts, so both engines derive
    * them bit-identically. Scale shape: the pair table is the q124
    * co-located join; the per-category counts are a tiny aggregate that
    * BROADCASTS onto it; N rides a 1-row broadcast; the cut is bounded.
    * Tie-break on (ca, cb) is total. */
  def assocRules(spark: SparkSession, dir: String, minSupport: Long = 20,
                 topK: Int = 20): DataFrame = {
    require(minSupport >= 1 && topK >= 1)
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), (col("l_partkey") % 100).as("cat"))
      .distinct()
    val n = items.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val catCounts = items.groupBy(col("cat")).agg(count(lit(1)).as("n_cat"))
    // directed pairs: both (a,b) and (b,a) are rules
    val pairs = items.as("a").join(items.as("b"), Seq("l_orderkey"))
      .filter(col("a.cat") =!= col("b.cat"))
      .groupBy(col("a.cat").as("ca"), col("b.cat").as("cb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(broadcast(catCounts.select(col("cat").as("ca"), col("n_cat").as("n_a"))), "ca")
      .join(broadcast(catCounts.select(col("cat").as("cb"), col("n_cat").as("n_b"))), "cb")
      .crossJoin(broadcast(n))
      .select(col("ca"), col("cb"), col("n_ab"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("confidence"),
        ((col("n_ab") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(desc("lift"), asc("ca"), asc("cb"))
      .limit(topK)
  }

  /** q125: RFM segmentation — classic customer scoring without the
    * classic global-ntile window: per-customer recency/frequency/
    * monetary aggregate in ONE shuffle, the two split boundaries
    * (median frequency, median monetary) come back as a 1-row broadcast
    * (the q78 broadcast-back shape), and the segment label is a
    * map-side comparison. Exact interpolated medians (the q43
    * percentile ≡ quantile_cont identity) keep both engines'
    * boundaries bit-identical; monetary goes through the decimal-exact
    * path with DOUBLE at the boundary. Recency splits on a fixed date
    * (config, not data) as a real scoring model would. */
  def rfmSegments(spark: SparkSession, dir: String,
                  recentSince: String = "1999-01-01"): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("r_date"),
        count(lit(1)).as("f"),
        Tables.toDouble(sum(Tables.dec(col("o_totalprice"))), 2).as("m"))
    val bounds = per.agg(
      expr("percentile(f, 0.5)").as("f_med"),
      expr("percentile(m, 0.5)").as("m_med"))
    per.crossJoin(broadcast(bounds))
      .select(col("o_custkey"), col("m"),
        concat(
          when(col("r_date") >= lit(recentSince).cast("timestamp"), "R").otherwise("r"),
          when(col("f") >= col("f_med"), "F").otherwise("f"),
          when(col("m") >= col("m_med"), "M").otherwise("m")).as("segment"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        Tables.toDouble(sum(Tables.dec(col("m"))), 2).as("sum_m"))
  }

  val oracle: Map[String, String] = Map(
    "q126_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey % 100 AS cat FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
        |cc AS (SELECT cat, count(*) AS n_cat FROM items GROUP BY 1),
        |pairs AS (
        |  SELECT a.cat AS ca, b.cat AS cb, count(*) AS n_ab
        |  FROM items a JOIN items b USING (l_orderkey)
        |  WHERE a.cat <> b.cat GROUP BY 1, 2 HAVING count(*) >= 20)
        |SELECT ca, cb, n_ab, confidence, lift FROM (
        |  SELECT ca, cb, n_ab,
        |    CAST(n_ab AS DOUBLE) / CAST(x.n_cat AS DOUBLE) AS confidence,
        |    CAST(n_ab * n_orders AS DOUBLE) / CAST(x.n_cat * y.n_cat AS DOUBLE) AS lift
        |  FROM pairs JOIN cc x ON x.cat = ca JOIN cc y ON y.cat = cb
        |  CROSS JOIN n)
        |ORDER BY lift DESC, ca, cb LIMIT 20""".stripMargin,
    "q124_basket_pairs" ->
      """SELECT ca, cb, n FROM (
        |  SELECT a.cat AS ca, b.cat AS cb, count(*) AS n FROM
        |    (SELECT DISTINCT l_orderkey, l_partkey % 100 AS cat FROM lineitem) a
        |    JOIN
        |    (SELECT DISTINCT l_orderkey, l_partkey % 100 AS cat FROM lineitem) b
        |    USING (l_orderkey)
        |  WHERE a.cat < b.cat
        |  GROUP BY 1, 2)
        |ORDER BY n DESC, ca, cb LIMIT 20""".stripMargin,
    "q125_rfm_segments" ->
      """WITH per AS (
        |  SELECT o_custkey, max(o_orderdate) AS r_date, count(*) AS f,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(28,2)) AS DOUBLE) AS m
        |  FROM orders GROUP BY 1),
        |bounds AS (
        |  SELECT quantile_cont(f, 0.5) AS f_med, quantile_cont(m, 0.5) AS m_med FROM per)
        |SELECT segment, count(*) AS n_customers,
        |  CAST(CAST(sum(CAST(m AS DECIMAL(18,6))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_m
        |FROM (
        |  SELECT o_custkey, m,
        |    (CASE WHEN r_date >= TIMESTAMP '1999-01-01 00:00:00' THEN 'R' ELSE 'r' END)
        |    || (CASE WHEN f >= f_med THEN 'F' ELSE 'f' END)
        |    || (CASE WHEN m >= m_med THEN 'M' ELSE 'm' END) AS segment
        |  FROM per, bounds)
        |GROUP BY 1""".stripMargin,
    "q117_incremental_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(28,2)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_qty,
        |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q71_array_agg" ->
      """SELECT c_nationkey, count(*) AS n,
        |  array_to_string(list_sort(list(c_custkey)), ',') AS top_keys
        |FROM customer WHERE c_acctbal > 9000
        |GROUP BY 1""".stripMargin,
    "q68_numeric_profile" ->
      """WITH stats AS (
        |  SELECT count(*) AS n_rows,
        |    CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    count(DISTINCT l_extendedprice) AS n_distinct,
        |    min(l_extendedprice) AS vmin, max(l_extendedprice) AS vmax,
        |    round(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(28,2)) AS DOUBLE) / count(*), 6) AS mean
        |  FROM lineitem),
        |hist AS (
        |  SELECT CAST(least(floor((l_extendedprice - vmin) * 10.0 / (vmax - vmin)), 9) AS INT) AS bucket,
        |    count(*) AS n_in_bucket
        |  FROM lineitem, stats GROUP BY 1)
        |SELECT bucket, n_in_bucket, n_rows, n_null, n_distinct, vmin, vmax, mean
        |FROM hist, stats""".stripMargin,
    "q66_right_join" ->
      """SELECT o_orderkey, o_custkey, c_name, c_acctbal
        |FROM (SELECT * FROM customer WHERE c_custkey % 5 = 0) c
        |RIGHT JOIN orders o ON c.c_custkey = o.o_custkey""".stripMargin,
    "q67_range_frame" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  count(*) OVER w AS n_near,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) OVER w AS DECIMAL(28,2)) AS DOUBLE) AS sum_near
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal
        |  RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING)""".stripMargin,
    "q63_nullsafe_join" ->
      """WITH c AS (SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_custkey END AS k, c_custkey FROM customer),
        |o AS (SELECT CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey END AS k, o_orderkey FROM orders)
        |SELECT c_custkey, count(*) AS n_orders
        |FROM c JOIN o ON c.k IS NOT DISTINCT FROM o.k
        |GROUP BY 1""".stripMargin,
    "q64_setops_all" ->
      """WITH a AS (SELECT l_orderkey AS k FROM lineitem WHERE l_orderkey % 3 = 0),
        |b AS (SELECT l_orderkey AS k FROM lineitem WHERE l_orderkey % 2 = 0),
        |u AS (
        |  SELECT k, 'except_all' AS setop FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
        |  UNION ALL
        |  SELECT k, 'intersect_all' AS setop FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b))
        |SELECT setop, count(*) AS n, count(DISTINCT k) AS n_keys
        |FROM u GROUP BY 1""".stripMargin,
    "q65_sql_frontend" ->
      """SELECT c_custkey, c_name,
        |  (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F') AS max_f_price
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q61_array_funcs" ->
      """SELECT vec_id,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        |  list_bool_or(list_transform(embedding, x -> x > 2.0)) AS has_big,
        |  list_bool_and(list_transform(embedding, x -> abs(x) < 10.0)) AS all_small,
        |  CAST(round(list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 4) AS DOUBLE) AS l1_norm,
        |  CAST(len(list_distinct(list_transform(embedding, x -> CAST(sign(x) AS INT)))) AS INT) AS n_signs
        |FROM embeddings""".stripMargin,
    "q62_unpivot" ->
      """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'price' AS metric, p_retailprice AS value FROM part""".stripMargin,
    "q55_window_suite" ->
      """SELECT c_custkey, c_nationkey,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 9) AS pct_rank,
        |  round(cume_dist() OVER w, 9) AS cume,
        |  first_value(c_custkey) OVER w AS richest,
        |  nth_value(c_custkey, 2) OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)""".stripMargin,
    "q56_datetime_funcs" ->
      """SELECT o_orderkey,
        |  CAST(date_part('year', o_orderdate) AS INT) AS y,
        |  CAST(date_part('quarter', o_orderdate) AS INT) AS q,
        |  CAST(date_part('month', o_orderdate) AS INT) AS m,
        |  CAST(date_part('day', o_orderdate) AS INT) AS d,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_to_eoy,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end
        |FROM orders""".stripMargin,
    "q57_string_suite" ->
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '*') AS padded,
        |  translate(p_name, 'aeiou', 'AEIOU') AS xlated,
        |  reverse(p_type) AS rev,
        |  left(p_name, 4) AS l4,
        |  right(p_name, 3) AS r3,
        |  repeat('-', p_size % 5) AS dashes,
        |  CAST(strpos(p_name, 'a') AS BIGINT) AS first_a
        |FROM part""".stripMargin,
    "q12_window_rank" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  rank() OVER w AS rnk,
        |  row_number() OVER w AS rn,
        |  lag(c_acctbal, 1) OVER w AS prev_bal,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(28,2)) AS DOUBLE) AS run_sum
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)""".stripMargin,
    "q13_rollup_agg" ->
      """SELECT COALESCE(r_name, 'ALL') AS r_name, COALESCE(n_name, 'ALL') AS n_name,
        |  count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "q14_setops" ->
      """WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
        |     sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |SELECT nk, 'union' AS setop FROM (SELECT nk FROM cn UNION SELECT nk FROM sn)
        |UNION ALL
        |SELECT nk, 'intersect' AS setop FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
        |UNION ALL
        |SELECT nk, 'except' AS setop FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)""".stripMargin,
    "q40_cube_agg" ->
      """SELECT COALESCE(r_name, 'ALL') AS r_name,
        |  COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |  count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE(r_name, o_orderstatus)""".stripMargin,
    "q41_grouping_sets" ->
      """SELECT COALESCE(r_name, 'ALL') AS r_name,
        |  COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |  count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (o_orderstatus), ())""".stripMargin,
    "q42_pivot_status" ->
      """SELECT n_name,
        |  CAST(CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DECIMAL(28,2)) AS DOUBLE) AS sum_f,
        |  CAST(CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DECIMAL(28,2)) AS DOUBLE) AS sum_o,
        |  CAST(CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DECIMAL(28,2)) AS DOUBLE) AS sum_p
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q43_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90,
        |  min(l_quantity) AS qmin, max(l_quantity) AS qmax,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q44_multi_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q45_posexplode_tokens" ->
      """WITH t AS (SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |p AS (SELECT doc_id, i AS pos, toks[i + 1] AS tok
        |  FROM t, LATERAL (SELECT unnest(range(0, len(toks))) AS i))
        |SELECT pos, tok, count(*) AS n_docs
        |FROM p WHERE pos < 3 AND tok <> ''
        |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,
  )
}
