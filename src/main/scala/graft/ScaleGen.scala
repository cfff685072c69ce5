package graft

import org.apache.spark.sql.functions._

/** Dev utility: synthesize a larger scale factor for the dedup/similarity
  * bench trend (the driver ships sf0.001/0.01/0.1 only; /root/testdata is
  * read-only). `runMain graft.ScaleGen <srcSfDir> <outDir> [reps=10]`.
  *
  * Construction keeps the workload's CHARACTER while scaling volume:
  *  - documents: `reps` replicas with offset doc_ids; every token gets a
  *    replica prefix, so the per-replica shingle spaces are DISJOINT —
  *    within-replica dup/near-dup structure is preserved exactly and no
  *    artificial cross-replica near-dups appear (naive copies would give
  *    every doc `reps` exact duplicates and square the pair counts,
  *    which is not what a 10× corpus looks like).
  *  - embeddings: offset vec_ids with a small deterministic per-replica,
  *    per-coordinate perturbation — copies drift apart instead of
  *    stacking at cosine 1.0.
  *
  * Bench-only data: no oracle runs here (the CORRECTNESS gate stays on
  * the driver's own parquet).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val reps = if (args.length > 2) args(2).toInt else 10
    // "docs" mode: synthesize documents+embeddings only — the doc-family
    // third-decade runs don't need 600M lineitem rows on disk
    val docsOnly = args.length > 3 && args(3) == "docs"
    // events.parquet is read raw (NANOS as long) and written as BIGINT
    // ns — Tables.events handles both encodings
    val spark = Harness.session("32")
    val docs = Tables.documents(spark, src)
    val emb = Tables.embeddings(spark, src)
    // replica id offset derived from the source's own key range — a fixed
    // 1e8 constant would silently collide (duplicate keys corrupting the
    // dedup shape) if ids ever grow past it at larger source scales
    val off = math.max(
      docs.agg(max(col("doc_id"))).head.getLong(0),
      emb.agg(max(col("vec_id"))).head.getLong(0)) + 1L
    val docsN = (0 until reps).map { r =>
      docs.select(
        (col("doc_id") + lit(r.toLong * off)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r$r-$$1").as("text"),
        col("lang"), col("source"))
        // the replica prefix changes every token, so the stored n_chars
        // would no longer equal length(text) — recompute it
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_.unionByName(_))
    val embN = (0 until reps).map { r =>
      emb.select(
        (col("vec_id") + lit(r.toLong * off)).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> CAST(x + $r * 0.003 * ((i % 5) - 2) AS FLOAT))")
          .as("embedding"),
        col("label"))
    }.reduce(_.unionByName(_))
    docsN.write.mode("overwrite").parquet(s"$out/documents.parquet")
    embN.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    if (docsOnly) {
      println(s"WROTE $out docs=${spark.read.parquet(s"$out/documents.parquet").count()} " +
        s"vecs=${spark.read.parquet(s"$out/embeddings.parquet").count()} (docs-only)")
      spark.stop()
      return
    }
    // graph/agg-family tables (round-8 trend extension): replicas offset
    // every KEY column (order, customer, event, user) so the node/user
    // spaces grow with volume — a 10× corpus means 10× graph nodes and
    // 10× cohort users, which is what real growth looks like — while
    // l_partkey stays put (the q124/q128 category space is fixed at 100;
    // more data deepens supports, it doesn't invent categories).
    val ord = Tables.orders(spark, src)
    val li = Tables.lineitem(spark, src)
    val ev = spark.read.parquet(s"$src/events.parquet")
    val offO = ord.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
    val offC = ord.agg(max(col("o_custkey"))).head.getLong(0) + 1L
    val offE = ev.agg(max(col("event_id"))).head.getLong(0) + 1L
    val offU = ev.agg(max(col("user_id"))).head.getLong(0) + 1L
    val ordN = (0 until reps).map { r =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(r.toLong * offO))
        .withColumn("o_custkey", col("o_custkey") + lit(r.toLong * offC))
    }.reduce(_.unionByName(_))
    val liN = (0 until reps).map { r =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(r.toLong * offO))
    }.reduce(_.unionByName(_))
    val evN = (0 until reps).map { r =>
      ev.withColumn("event_id", col("event_id") + lit(r.toLong * offE))
        .withColumn("user_id", col("user_id") + lit(r.toLong * offU))
    }.reduce(_.unionByName(_))
    ordN.write.mode("overwrite").parquet(s"$out/orders.parquet")
    liN.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    evN.write.mode("overwrite").parquet(s"$out/events.parquet")
    println(s"WROTE $out docs=${spark.read.parquet(s"$out/documents.parquet").count()} " +
      s"vecs=${spark.read.parquet(s"$out/embeddings.parquet").count()} " +
      s"orders=${spark.read.parquet(s"$out/orders.parquet").count()} " +
      s"lineitem=${spark.read.parquet(s"$out/lineitem.parquet").count()} " +
      s"events=${spark.read.parquet(s"$out/events.parquet").count()}")
    spark.stop()
  }
}
