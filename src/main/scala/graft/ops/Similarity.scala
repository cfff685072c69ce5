package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float], dim 64) —
  * SURVEY.md §7.3(6) north-star extension.
  *
  * Determinism design: float32 values are scaled to exact BIGINTs
  * (round(x·10⁶)); integer dot products / norms are then associative and
  * order-independent, so Spark and DuckDB agree bit-for-bit regardless of
  * partitioning or SIMD summation order — double dot products would not.
  * The final cosine is a fixed double expression over those exact ints.
  *
  * Scale design: brute-force top-k broadcasts the (small) query set,
  * streams the corpus once, and accumulates per-query results through a
  * bounded top-k Aggregator (shuffle carries ≤k rows per query ×
  * partition). The IVF variant bounds probe work per query to nprobe
  * clusters; the near-dup variant scopes candidate pairs to shared IVF
  * cells — both are the 100 TB paths.
  *
  * Centroid cardinality is BOUNDED and corpus-independent: the centroid
  * set is the K vectors with the smallest md5(vec_id) (a deterministic
  * uniform sample selected by `ORDER BY md5 LIMIT K` →
  * TakeOrderedAndProject: map-side bounded top-K, O(n log K) with a
  * K-row driver result, never a full sort). The broadcast is K vectors
  * and per-vector assignment work is O(K) regardless of n — at a real
  * 100 TB corpus K is a tuning knob (K ≈ √n balances cell size against
  * probe fan-out; e.g. K ≈ 2¹⁶ at 10¹⁰ vectors, still a trivially
  * broadcastable ~32 MB of float32×64), here pinned small so the sf0.001
  * spec corpus still populates every cell. Assignment itself is a
  * map-side broadcast join + TopKAgg partial aggregation — no window
  * over the candidate rows, so the shuffle carries one row per vector.
  */
object Similarity {

  /** IVF cell count for query probing (few, fuller cells: recall at
    * nprobe=2 stays measurable on the tiny spec corpus). */
  val IvfK = 16
  /** IVF cell count for near-dup candidate scoping (more, smaller cells:
    * within-cell pair enumeration is Σ k², so more cells = less verify
    * work; both are corpus-independent constants). */
  val NearDupK = 64

  /** embeddings with exact integer-scaled vector `ai` and its squared
    * norm `n2`. */
  def scaled(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    Tables.embeddings(spark, dir).select(
      col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as("ai"))
      .withColumn("n2", expr("dot_long(ai, ai)"))
  }

  /** The family's one scoring rule, the exact cosine: an exact integer
    * dot as a double over the product of the square-rooted exact norms.
    * Same exact-int inputs give a bit-identical double wherever the rule
    * runs, which is what lets q187's recall check compare cosines by
    * `===` and q155's driver probe ([[cosOf]]) match the relational
    * descent. Operands keep the order each caller passes; the rule is
    * symmetric bit for bit (SimilaritySpec's kernel law). */
  def cosine(dot: Column, aN2: Column, bN2: Column): Column =
    dot.cast("double") / (sqrt(aN2.cast("double")) * sqrt(bN2.cast("double")))

  /** [[cosine]] of array columns `a` and `b` through the native codegen'd
    * `dot_long` (functions.DotProductLong — the higher-order
    * aggregate(zip_with(…)) equivalent runs interpreted), with the norms
    * in columns `aN2` and `bN2`. */
  def cosine(a: String, b: String, aN2: String, bN2: String): Column =
    cosine(expr(s"dot_long($a, $b)"), col(aN2), col(bN2))

  /** Driver twin of [[cosine]]: the same double arithmetic on the same
    * exact integers. */
  def cosOf(dot: Long, aN2: Long, bN2: Long): Double =
    dot.toDouble / (math.sqrt(aN2.toDouble) * math.sqrt(bN2.toDouble))

  /** The query sample of the top-k family: every 50th vector. */
  private val QuerySample = col("vec_id") % 50 === 0

  /** Per `key`, the `n` ids with the highest `score` (TopKAgg: score
    * desc, id asc — map-side partial aggregation, so the shuffle carries
    * ≤ n entries per key × partition), exploded to one row per kept id
    * named `out`. The `payload` columns are functionally dependent on the
    * key and ride through `first`. */
  private[graft] def nearestIds(df: DataFrame, key: String, n: Int, score: Column,
                                id: String, out: String, payload: String*): DataFrame = {
    val topn = udaf(new graft.functions.TopKAgg(n))
    val aggs = payload.map(p => first(col(p)).as(p)) :+ topn(score, col(id)).as("top")
    df.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
      .select(col(key) +: payload.map(col) :+
        explode(expr("transform(top, x -> x._2)")).as(out): _*)
  }

  /** Per `key`, the `k` best (id, score) pairs in TopKAgg order (score
    * desc, id asc) as rows (key, id, cos, rn) with rank rn from 1. */
  private[graft] def rankedTopK(df: DataFrame, key: String, k: Int, id: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(k))
    df.groupBy(col(key))
      .agg(topk(col("cos"), col(id)).as("top"))
      .select(col(key), posexplode(col("top")))
      .select(col(key), col("col._2").as(id), col("col._1").as("cos"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  /** The K-vector centroid set: smallest-md5(vec_id) sample, fully
    * deterministic and independent of corpus size (plan:
    * TakeOrderedAndProject, asserted in PlanSpec). */
  private[graft] def centroids(v: DataFrame, k: Int): DataFrame =
    v.select(col("vec_id").as("c_id"), col("ai").as("c_ai"), col("n2").as("c_n2"))
      .orderBy(md5(col("c_id").cast("string")), col("c_id"))
      .limit(k)

  /** Assign every vector to its `nAssign` nearest centroids by cosine.
    * The centroid side is a broadcast of ≤k rows; the per-vector top-n
    * accumulates in TopKAgg (map-side partial aggregation: each vector's
    * K candidate rows collapse to one buffered row before the shuffle —
    * no row_number window materializing n×K rows). `first(...)` carries
    * the group-constant payload columns (ai/n2/label are functionally
    * dependent on vec_id). */
  private[graft] def assignCells(v: DataFrame, nAssign: Int, k: Int): DataFrame =
    nearestIds(v.crossJoin(broadcast(centroids(v, k)))
      .withColumn("cos", cosine("ai", "c_ai", "c_n2", "n2")),
      "vec_id", nAssign, col("cos"), "c_id", "c_id", "label", "ai", "n2")

  /** Brute-force cosine top-k for query vectors (vec_id % 50 = 0) over the
    * whole corpus — the exact baseline the ANN variants are measured
    * against. Queries are broadcast; the corpus streams through once; the
    * per-query top-k accumulates in TopKAgg with map-side partial
    * aggregation (no full-corpus window partition per query — recall spec
    * in SimilaritySpec compares ivfTopK against this).
    *
    * @param topK results per query (shuffle carries ≤ topK rows per
    *             query × partition — cost is linear in it) */
  def cosineTopK(spark: SparkSession, dir: String, topK: Int = 5): DataFrame =
    bruteTopK(spark, dir, topK, Nil, col("q_id") =!= col("vec_id"))

  /** q106: hard-negative mining for embedding-model training (the
    * in-batch-negatives upgrade every contrastive recipe uses, e.g. DPR,
    * Karpukhin et al. EMNLP 2020 §3.2): for each query vector, the top-k
    * most similar vectors of a DIFFERENT label — near the query in
    * embedding space but semantically wrong, exactly the negatives that
    * sharpen a contrastive loss.
    *
    * Same bounded shape as cosineTopK — the label predicate lands in the
    * broadcast-join condition (filter before any aggregation state), and
    * the per-query top-k accumulates in TopKAgg with map-side partials,
    * so the shuffle carries ≤ k rows per query × partition. */
  def hardNegatives(spark: SparkSession, dir: String, topK: Int = 5): DataFrame =
    bruteTopK(spark, dir, topK, Seq(col("label").as("q_label")), col("q_label") =!= col("label"))

  /** The one body of [[cosineTopK]] and [[hardNegatives]]: the query
    * sample, carrying the `extra` query columns, joins the corpus on
    * `on`. */
  private def bruteTopK(spark: SparkSession, dir: String, topK: Int,
                        extra: Seq[Column], on: Column): DataFrame = {
    val v = scaled(spark, dir)
    val q = v.filter(QuerySample).select(col("vec_id").as("q_id") +: extra :+
      col("ai").as("q_ai") :+ col("n2").as("q_n2"): _*)
    rankedTopK(broadcast(q).join(v, on)
      .withColumn("cos", cosine("q_ai", "ai", "q_n2", "n2")), "q_id", topK, "vec_id")
  }

  /** IVF (inverted-file) approximate NN — the scale path.
    * Centroids are the bounded deterministic md5-sample (IvfK vectors,
    * corpus-independent); every vector is assigned to its nearest
    * centroid; a query probes only its nprobe=2 nearest clusters and
    * reranks exactly. Fully deterministic, so the DuckDB oracle mirrors
    * this whole pipeline; recall vs cosineTopK and score-exactness
    * asserted in SimilaritySpec.
    *
    * Knobs (SURVEY §8.1): `k` cells ⇒ expected cell size n/k, probe work
    * per query ≈ nprobe·n/k — k ≈ √n balances the broadcast (k vectors)
    * against per-probe rerank size; `nprobe` trades recall for rerank
    * cost linearly. Defaults are the pinned small-corpus constants. */
  def ivfTopK(spark: SparkSession, dir: String, nprobe: Int = 2,
              k: Int = IvfK, topK: Int = 5): DataFrame = {
    require(nprobe >= 1 && nprobe <= k, s"nprobe must be in [1, $k]")
    val v = scaled(spark, dir)
    val assigned = assignCells(v, 1, k)
    val cents = centroids(v, k)
    // probe: nprobe nearest centroids per query — same bounded TopKAgg
    // shape as assignment (the probe side is |q| × IvfK rows)
    val q = v.filter(QuerySample)
      .select(col("vec_id").as("q_id"), col("ai").as("q_ai"), col("n2").as("q_n2"))
    val probes = nearestIds(q.crossJoin(broadcast(cents))
      .withColumn("cos", cosine("q_ai", "c_ai", "q_n2", "c_n2")),
      "q_id", nprobe, col("cos"), "c_id", "c_id", "q_ai", "q_n2")
    // rerank exactly within probed clusters, bounded top-k per query
    rankedTopK(probes.join(assigned, "c_id")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", cosine("q_ai", "ai", "q_n2", "n2")), "q_id", topK, "vec_id")
  }

  /** Signature length / banding for the random-hyperplane LSH variant:
    * 12 sign bits, 2 bands × 6 bits (64 buckets per band). Corpus-
    * independent constants; at larger corpora more planes and more,
    * narrower bands are the knob (candidates per query ≈ bands ×
    * n / 2^bandBits). */
  val LshPlanes = 12
  private val LshBandBits = 6

  /** ±1 hyperplane coefficients derived from md5("p:i") — pure constants
    * computed driver-side (no Spark action), reproduced bit-identically
    * by the oracle's SQL md5, so the whole LSH pipeline is
    * oracle-checkable like the md5 MinHash signatures of q23. */
  private[graft] def planeCoefs(p: Int): Seq[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 64).map { i =>
      md.reset()
      val hex = md.digest(s"$p:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (hex.charAt(0) < '8') 1 else -1
    }
  }

  /** Random-hyperplane LSH ANN (q76) — the bucket-join alternative to
    * IVF: sign(v·h_p) bits form a per-vector signature (12 codegen'd
    * dot_long calls against literal ±1 arrays — map-side, no shuffle),
    * signatures band into (band, 6-bit value) bucket keys, a query's
    * candidates are the vectors sharing ≥1 bucket (equi-join on the
    * bucket key — never a distance scan), and candidates rerank exactly
    * through the bounded TopKAgg. Unlike IVF there is no centroid set at
    * all: bucketing is stateless per vector, so ingest is embarrassingly
    * parallel and incremental (new vectors land in buckets without any
    * re-clustering).
    *
    * Knobs (SURVEY §8.1): candidates per query ≈ bands · n / 2^bandBits,
    * with bands = planes / bandBits — more planes and wider bands cut
    * candidates; `probeBits = 1` additionally probes every bucket whose
    * band value differs from the query's in exactly one bit (multiprobe:
    * bandBits extra buckets per band, the standard recall lever that
    * needs NO extra tables — a vector one hyperplane-sign away from the
    * query still collides). probeBits = 0 reproduces the single-bucket
    * probe. */
  def lshTopK(spark: SparkSession, dir: String, planes: Int = LshPlanes,
              bandBits: Int = LshBandBits, probeBits: Int = 1,
              topK: Int = 5): DataFrame = {
    require(planes % bandBits == 0, "planes must split evenly into bands")
    require(probeBits >= 0 && probeBits <= 1, "only 1-bit multiprobe is implemented")
    val v = scaled(spark, dir)
    def bucketsOf(vecs: DataFrame): DataFrame = {
      val bits = (0 until planes).map { p =>
        val arr = planeCoefs(p).map(c => s"${c}L").mkString(",")
        when(expr(s"dot_long(ai, array($arr))") >= 0, lit("1")).otherwise(lit("0"))
      }
      vecs.withColumn("sig", concat(bits: _*))
        .select(col("vec_id"), explode(array((0 until planes / bandBits).map(b =>
          struct(lit(b).as("band"),
            substring(col("sig"), b * bandBits + 1, bandBits).as("bv"))): _*)).as("bk"))
        .select(col("vec_id"), col("bk.band"), col("bk.bv"))
    }
    // filter-first: the corpus buckets feed only the candidate join; the
    // query side re-derives its buckets from the tiny filtered query set
    // (n/50 vectors × `planes` codegen'd dot products — cheaper than
    // materializing the corpus buckets to share them)
    val buckets = bucketsOf(v)
    val qbExact = bucketsOf(v.filter(QuerySample))
      .select(col("vec_id").as("q_id"), col("band"), col("bv"))
    // multiprobe expansion happens on the QUERY side only: the corpus
    // bucket table is untouched (ingest stays stateless/incremental);
    // each query band contributes its own bucket plus its bandBits 1-bit
    // neighbors
    val qb =
      if (probeBits == 0) qbExact
      else {
        val flips = (1 to bandBits).map { i =>
          expr(s"""concat(substring(bv, 1, ${i - 1}),
                  |  CASE WHEN substring(bv, $i, 1) = '1' THEN '0' ELSE '1' END,
                  |  substring(bv, ${i + 1}, ${bandBits - i}))""".stripMargin)
        }
        qbExact
          .select(col("q_id"), col("band"),
            explode(array(col("bv") +: flips: _*)).as("bv"))
      }
    val cand = broadcast(qb).join(buckets, Seq("band", "bv"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    rankedTopK(cand
      .join(v.select(col("vec_id").as("q_id"), col("ai").as("q_ai"),
        col("n2").as("q_n2")), "q_id")
      .join(v.select(col("vec_id"), col("ai"), col("n2")), "vec_id")
      .withColumn("cos", cosine("q_ai", "ai", "q_n2", "n2")), "q_id", topK, "vec_id")
  }

  /** q87: product-quantization ANN (the memory-compression scale path —
    * Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI'11). The 64-dim space splits into `subspaces`
    * sub-vectors; each sub-vector quantizes to its nearest of
    * `codebookK` centroid sub-vectors (the same bounded md5-sample
    * centroid set as IVF, so the codebook is deterministic and
    * corpus-independent); a vector's PQ code is its per-subspace
    * centroid ids — 64 floats compress to `subspaces` small ids, the
    * representation a 10¹⁰-vector store actually keeps in RAM. A query
    * scans codes with ADC (asymmetric distance computation): its
    * per-(subspace, centroid) distance table has codebookK × subspaces
    * entries, and the approximate distance to any vector is a pure
    * table-lookup sum — no original vectors touched. All distances are
    * integer-exact squared euclidean over the scaled BIGINT vectors, so
    * the DuckDB oracle mirrors the whole pipeline bit-for-bit (this is
    * the plain ADC scan; at deployment scale it composes with the IVF
    * cell scoping of q26 exactly as IVF-PQ does).
    *
    * Knobs (SURVEY §8.1): compression = 64·4 bytes → subspaces·log₂
    * codebookK bits; quantization error falls as either rises; ADC work
    * per query = codebookK·subspaces table entries + n·subspaces adds. */
  def pqTopK(spark: SparkSession, dir: String, subspaces: Int = 8,
             codebookK: Int = 16, topK: Int = 5): DataFrame = {
    require(64 % subspaces == 0, "subspaces must divide the 64-dim space")
    val w = 64 / subspaces
    val v = scaled(spark, dir)
    // per-(vector, centroid) sub-distances: one broadcast join row per
    // pair, all `subspaces` integer sums computed in that row. Feeds
    // BOTH the corpus encoding and the query distance tables, so it is
    // shared for the call and released once the top-k is checkpointed.
    val dCols = (0 until subspaces).map { s =>
      expr(s"""aggregate(sequence(${s * w}, ${s * w + w - 1}), 0L,
              | (acc, i) -> acc + (ai[i] - c_ai[i]) * (ai[i] - c_ai[i]))""".stripMargin)
        .as(s"d$s")
    }
    Materialize.shared(v.crossJoin(broadcast(centroids(v, codebookK)))
      .select(col("vec_id") +: dCols :+ col("c_id"): _*)) { pairs =>
      // encode: per subspace, the centroid minimizing (d, c_id) — the
      // typed arg-min is the deterministic argmin (same total order as
      // the oracle's row_number over (d, c_id)). The former
      // min(struct(d, c_id)) spelling planned SortAggregate (struct
      // buffers are not HashAggregate-mutable — the r16 Curation
      // lesson), sorting the n·codebookK pair stream per encode; the r18
      // ExecutedSweep counted it (4 SortAggregates inside this eager
      // execution) and MinByLongAgg keeps all `subspaces` arg-mins in
      // one hash-mode ObjectHashAggregate pass.
      val minByD = udaf(new graft.functions.MinByLongAgg)
      val enc = pairs.groupBy(col("vec_id"))
        .agg(minByD(col("d0"), col("c_id")).as("m0"),
          (1 until subspaces).map(s =>
            minByD(col(s"d$s"), col("c_id")).as(s"m$s")): _*)
      val codes = enc.select(col("vec_id"), explode(array((0 until subspaces).map(s =>
          struct(lit(s).as("s"), col(s"m$s").as("code"))): _*)).as("k"))
        .select(col("vec_id"), col("k.s").as("s"), col("k.code").as("code"))
      // query ADC tables: the SAME pair rows, restricted to query vectors
      val qd = pairs.filter(QuerySample)
        .select(col("vec_id").as("q_id"), col("c_id"),
          explode(array((0 until subspaces).map(s =>
            struct(lit(s).as("s"), col(s"d$s").as("d"))): _*)).as("k"))
        .select(col("q_id"), col("c_id"), col("k.s").as("s"), col("k.d").as("d"))
      // ADC scan: every (vector, subspace, code) row looks its distance up
      // in the broadcast table; partial aggregation sums map-side
      val topk = udaf(new graft.functions.TopKAgg(topK))
      codes
        .join(broadcast(qd), codes("s") === qd("s") && codes("code") === qd("c_id"))
        .filter(col("q_id") =!= col("vec_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("d")).as("approx_dist"))
        .groupBy(col("q_id"))
        .agg(topk(negate(col("approx_dist")).cast("double"), col("vec_id")).as("top"))
        .select(col("q_id"), posexplode(col("top")))
        .select(col("q_id"), col("col._2").as("vec_id"),
          negate(col("col._1")).cast("long").as("approx_dist"),
          (col("pos") + 1).cast("int").as("rn"))
        .localCheckpoint(true)
    }
  }

  /** Embedding near-duplicate pairs, cluster-scoped (the SemDeDup shape —
    * the industry-standard 100 TB semantics): candidate pairs share at
    * least one IVF cell under 2-way multi-assignment, then verify with
    * the exact cosine and keep ≥ 0.4. Candidate work is Σ_cells k², not
    * n² — no full-corpus broadcast, no all-pairs join; the pipeline is
    * deterministic end-to-end and the oracle mirrors it. Cross-cell pairs
    * are out of scope by definition (precision vs the exact all-pairs
    * join is asserted in SimilaritySpec). The declared q27 entry uses
    * [[embeddingNearDupAuto]] (cells ∝ n, [[nearDupAutoK]]) so per-cell
    * pair enumeration stays bounded at any corpus size; the parametric
    * k remains for specs.
    *
    * Knobs (SURVEY §8.1): candidate pairs ≈ Σ_cells size² ≈ n²·nAssign²/k
    * — k grows with the corpus (k ∝ n keeps per-cell work constant);
    * nAssign > 1 trades recall across cell boundaries for nAssign× the
    * assignment rows. */
  def embeddingNearDup(spark: SparkSession, dir: String, k: Int = NearDupK,
                       nAssign: Int = 2, minCos: Double = 0.4): DataFrame = {
    val v = scaled(spark, dir)
    val cells = assignCells(v, nAssign, k).select(col("c_id"), col("vec_id"))
    cellPairs(cells, v, minCos)
  }

  /** The d = 2 probe as one map-side pass: roots and the level-0
    * filing ride a broadcast (codebook-sized — K + b rows, bounded by
    * the d = 2 regime's K ≤ 2²⁰), each partition walks its vectors
    * once, and the output is exactly the (c_id, vec_id) assignment the
    * relational descent produces: the SAME exact-integer dots, the
    * SAME cosine ([[cosOf]], the driver twin of [[cosine]]), and the
    * SAME TopKAgg order (cos DESC, id ASC — `before` is TopKAgg's own
    * predicate). No row ever materializes per (vector × centroid). */
  private def broadcastProbe(spark: SparkSession, v: DataFrame,
                             members: DataFrame, fm: DataFrame,
                             nprobe: Int, nAssign: Int): DataFrame = {
    def vecOf(r: org.apache.spark.sql.Row, i: Int): Array[Long] =
      r.getSeq[Long](i).toArray
    // roots: occupied level-1 centers; kids: level-0 centroids per root
    val roots: Array[(Long, Array[Long], Long)] = members
      .select(col("c_id"), col("c_ai"), col("c_n2")).collect()
      .map(r => (r.getLong(0), vecOf(r, 1), r.getLong(2)))
    val kidRows = fm
      .select(col("cell"), col("c_id"), col("c_ai"), col("c_n2")).collect()
    // the collected codebook is bounded by the d = 2 regime
    // (ivfLevelSizes keeps this path to K ≤ 2²⁰ ≈ 0.5 GB of 64-long
    // rows) — assert it instead of trusting the comment, so a future
    // depth-rule change fails loudly here rather than OOMing the driver
    require(kidRows.length <= (1 << 20) && roots.length <= (1 << 20),
      s"broadcastProbe codebook has ${kidRows.length} level-0 rows / " +
        s"${roots.length} roots — beyond the d = 2 broadcast regime " +
        "(K <= 2^20); the caller must shard or pass an explicit smaller k")
    val kids: Map[Long, Array[(Long, Array[Long], Long)]] = kidRows
      .map(r => (r.getLong(0), (r.getLong(1), vecOf(r, 2), r.getLong(3))))
      .groupBy(_._1).map { case (c, g) => c -> g.map(_._2) }
    val rootsB = spark.sparkContext.broadcast(roots)
    val kidsB = spark.sparkContext.broadcast(kids)
    val sp = spark
    import sp.implicits._
    v.select(col("vec_id"), col("ai"), col("n2"))
      .as[(Long, Seq[Long], Long)]
      .mapPartitions { it =>
        val rs = rootsB.value; val ks = kidsB.value
        // TopKAgg's exact order: score desc, id asc
        def before(a: (Double, Long), b: (Double, Long)): Boolean =
          a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
        it.flatMap { case (vid, aiSeq, n2) =>
          val ai = aiSeq.toArray
          def cos(c: (Long, Array[Long], Long)): Double = {
            var d = 0L; var i = 0
            while (i < ai.length) { d += ai(i) * c._2(i); i += 1 }
            cosOf(d, c._3, n2)
          }
          val probed = rs.map(r => (cos(r), r._1))
            .sortWith(before).take(nprobe)
          probed.flatMap(p => ks(p._2))
            .map(c => (cos(c), c._1))
            .sortWith(before).take(nAssign)
            .map { case (_, cid) => (cid, vid) }
        }
      }
      .toDF("c_id", "vec_id")
  }

  /** Shared pair tail of the cell-scoped near-dup family (q27/q155):
    * within-cell candidate pairs (distinct — a pair sharing both of its
    * nAssign cells must score once), verified with the exact integer
    * cosine and kept at ≥ minCos. The join shuffles on the cell id; the
    * vector payload joins back only onto the candidate sliver. */
  private def cellPairs(cells: DataFrame, v: DataFrame, minCos: Double): DataFrame = {
    // Payloads ride INTO the cell self-join (one n·nAssign-row join
    // against v) and every candidate scores IN PLACE as the join
    // enumerates it, so the ≥ τ filter runs before anything about the
    // candidate set ever shuffles: the r13e profile showed the old
    // shape's cost was candidate-set movement — a Θ(Σ_cells k²)-row
    // DISTINCT plus two joins of that set back to v — for pairs whose
    // score is computable right where they are born. A pair shared by
    // two cells scores identically in each (same exact-int dot, same
    // expression), so the final DISTINCT dedups on the emitted MATCH
    // sliver only. Output set is identical to the score-after-distinct
    // form by construction.
    val cvA = cells.join(v.select(col("vec_id"), col("ai"), col("n2")), "vec_id")
      .select(col("c_id"), col("vec_id").as("a_id"),
        col("ai").as("q_ai"), col("n2").as("a_n2"))
    val cvB = cells.join(v.select(col("vec_id"), col("ai"), col("n2")), "vec_id")
      .select(col("c_id"), col("vec_id").as("b_id"),
        col("ai"), col("n2").as("b_n2"))
    cvA.join(cvB, "c_id")
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosine("q_ai", "ai", "a_n2", "b_n2"))
      .filter(col("cos") >= minCos)
      .select(col("a_id"), col("b_id"), col("cos"))
      .distinct()
  }

  /** Per-label centroid accumulation: element-wise sum of the integer-
    * scaled vectors through the VectorSumAgg typed Aggregator (map-side
    * partial buffers — one 64-long buffer per label × partition in the
    * shuffle), summarized by the exact squared norm of the sum vector.
    *
    * The norm is computed in DECIMAL(38,0): per-label element sums grow
    * with corpus size, and squaring them in Long would WRAP silently at
    * |s_i| > √(2⁶³) ≈ 3.0e9 while the DuckDB oracle (HUGEINT) keeps
    * going — the decimal path instead overflows loudly (ANSI error / null
    * at the BIGINT boundary cast), so divergence is detected, not
    * silent. The lambda runs interpreted but only on one row per label —
    * post-aggregation, off the hot path. (VectorSumAgg's Long buffer
    * itself holds to ~9e11 vectors per label at |x|≤10 before this
    * guard matters.) */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val vecSum = udaf(new graft.functions.VectorSumAgg(64))
    scaled(spark, dir)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), vecSum(col("ai")).as("s"))
      .select(col("label"), col("n_vecs"),
        expr("""CAST(aggregate(s, CAST(0 AS DECIMAL(38,0)),
                 (acc, x) -> acc + CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS BIGINT)""")
          .as("sum_norm2"))
  }

  /** Output dimensionality of the q105 random projection. */
  private val ProjDims = 16
  private val InDims = 64

  /** Deterministic ±1 sign for projection cell (i, j): bit 16 of an LCG
    * over the flattened index — engine-portable because the signs embed
    * as LITERALS in both the Spark expressions and the oracle SQL (the
    * cwConstants pattern). Bit 16 rather than bit 0: an LCG's low bit
    * alternates. */
  private[graft] def projSign(i: Int, j: Int): Int = {
    val h = (1103515245L * (i * InDims + j) + 12345L) & 0x7fffffffL
    if (((h >> 16) & 1L) == 1L) 1 else -1
  }

  /** q105: Johnson–Lindenstrauss random projection of the integer-scaled
    * embeddings, 64 → 16 dims, with a ±1 sign matrix (Achlioptas, JCSS
    * 2003: database-friendly random projections — ±1 entries preserve
    * the JL guarantee without gaussian sampling). E‖Pw‖² = k·‖w‖², so
    * distances survive up to the JL distortion (SimilaritySpec checks
    * the empirical band) at a quarter of the ANN probe cost.
    *
    * Scale shape: pure map-side — each output dim is a literal-sign
    * integer sum over the input array, whole-stage codegen'd, no
    * shuffle at all; the arithmetic stays exact (BIGINT), which is what
    * lets the oracle compare bit-for-bit instead of within a float
    * tolerance. */
  def randomProjection(spark: SparkSession, dir: String): DataFrame = {
    val cols = (0 until ProjDims).map { j =>
      expr((0 until InDims)
        .map(i => s"${projSign(i, j)}L * element_at(ai, ${i + 1})")
        .mkString(" + ")).as(s"p$j")
    }
    scaled(spark, dir).select(col("vec_id") +: col("label") +: cols: _*)
  }

  /** q168: int8 scalar-quantization audit of the embedding corpus — the
    * asymmetric per-dimension linear scheme every vector store ships
    * (code = round(255·(x−mn)/range)), evaluated entirely in INTEGER
    * arithmetic over the 10⁻⁶ fixed-point components ([[scaled]]) so
    * codes and reconstruction errors are exact cross-engine:
    * qv = (510·(x−mn) + range) div (2·range) is round-half-up by
    * construction, err255 = |255·(x−mn) − qv·range| is the absolute
    * reconstruction error in 1/(255·10⁶) original units, and
    * Σ err255 is an exact (aggregation-order-free) BIGINT. Two corpus
    * passes: a 64-group min/max aggregate (map-side partials, 64-row
    * broadcast back), then the error aggregate — no corpus-sized
    * shuffle at any scale. mean_abs_err = Σerr255/(n·255·10⁶) is one
    * exact-integer ratio, identical in both engines. */
  def int8Quantize(spark: SparkSession, dir: String): DataFrame = {
    val d = scaled(spark, dir)
      .select(col("vec_id"), posexplode(col("ai")).as(Seq("dim", "x")))
      .withColumn("dim", col("dim").cast("long"))
    val st = d.groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .withColumn("rng", col("mx") - col("mn"))
    d.join(broadcast(st), "dim")
      .withColumn("qv", when(col("rng") > 0,
        expr("(510 * (x - mn) + rng) DIV (2 * rng)")).otherwise(lit(0L)))
      .withColumn("err255",
        abs(lit(255L) * (col("x") - col("mn")) - col("qv") * col("rng")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("mn"), max(col("x")).as("mx"),
        min(col("qv")).as("q_min"), max(col("qv")).as("q_max"),
        sum(col("err255")).as("sum_err255"))
      .withColumn("mean_abs_err",
        col("sum_err255").cast("double") / (col("n").cast("double") * 255000000.0))
  }

  private val scaledSql =
    """SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ai
      |FROM embeddings""".stripMargin

  /** Shared oracle CTE: scaled vectors with norms, the bounded md5-sample
    * centroid set (mirrors `centroids`), and the n-way cell assignment
    * (mirrors assignCells; the oracle can afford the window form — it
    * runs at sf0.01 in DuckDB, the Spark side is the scale path). */
  private def assignSql(nAssign: Int, k: Int): String =
    assignSql(nAssign, k.toString)

  private def assignSql(nAssign: Int, kSql: String): String =
    s"""v AS (
       |  SELECT vec_id, ai,
       |    list_sum(list_transform(range(0, 64), i -> ai[i+1] * ai[i+1])) AS n2
       |  FROM ($scaledSql)),
       |c AS (SELECT vec_id AS c_id, ai AS c_ai, n2 AS c_n2 FROM v
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $kSql),
       |assign AS (
       |  SELECT vec_id, ai, n2, c_id FROM (
       |    SELECT v.vec_id, v.ai, v.n2, c.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        CAST(list_sum(list_transform(range(0, 64), i -> c.c_ai[i+1] * v.ai[i+1])) AS DOUBLE)
       |          / (sqrt(CAST(c.c_n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE))) DESC, c.c_id) AS rn
       |    FROM v, c)
       |  WHERE rn <= $nAssign)""".stripMargin

  /** q118: SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023) — COMPOSED from
    * the library's own operators: q111's Lloyd clusters scope the
    * candidate space (pairs enumerate within a cluster only — Σ(n/K)²
    * work instead of n²; at scale K must grow ∝ n to hold the cluster
    * size constant, which is what [[semDedupAutoK]] derives and the
    * DECLARED q118 entry now uses via [[semDedupAuto]] — the oracle
    * derives the identical K with a scalar subquery in the c0 LIMIT, so
    * the gate checks the deployment-shaped configuration at any sf; the
    * parametric k remains for specs), then EXACT cosine
    * over the integer-scaled vectors keeps pairs above τ. Contrast q27,
    * which buys cluster scoping with one md5-sampled assignment pass and
    * 2-way cell membership: SemDeDup proper pays the Lloyd iterations
    * for tighter clusters. Both accept the same recall contract —
    * a pair split across clusters is missed by design (the paper's
    * trade); SimilaritySpec pins exactly that: within-cluster recall is
    * total, every emitted pair is truly ≥ τ, nothing crosses clusters.
    *
    * Scale shape: the pair join shuffles on the cluster id (the one key
    * both sides share); cosines are the codegen'd integer dot product.
    * The final assignment rides the same broadcast-centroid map-side
    * path as q111 — no shuffle added beyond the per-cluster self-join. */
  /** K ∝ n at the paper's ~fixed target cluster size (n/K ≈ 128): keeps
    * the within-cluster self-join Θ(n · 128) instead of Θ(n²/K_fixed). */
  private[graft] def semDedupAutoK(n: Long): Int =
    math.max(8L, n / 128L).toInt

  /** K ∝ √n for q27's cells — the BALANCED choice (SURVEY §8.1's IVF
    * sizing): assignment scores all K centroids per vector (n·K) while
    * within-cell pairs cost 4n²/K, so K ∝ n starves one stage to feed
    * the other (measured 4.8× at 10× data) and the equalizer
    * n·K = 4n²/K ⇒ K = 2√n puts BOTH stages at Θ(n^1.5) — ratio bound
    * √10 ≈ 3.2 per 10× step. */
  private[graft] def nearDupAutoK(n: Long): Int =
    math.max(NearDupK.toLong, 2L * math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** The deployment-shaped q118: K derived from the corpus count at
    * runtime (one metadata-only parquet count) so the declared entry
    * IS the scale configuration; the oracle derives the same K with a
    * scalar subquery. */
  def semDedupAuto(spark: SparkSession, dir: String,
                   iters: Int = 3, cosT: Double = 0.4): DataFrame =
    semDedup(spark, dir,
      k = semDedupAutoK(Tables.embeddings(spark, dir).count()),
      iters = iters, cosT = cosT)

  /** The deployment-shaped q27 — same auto-K treatment as
    * [[semDedupAuto]], cell count ∝ n. */
  def embeddingNearDupAuto(spark: SparkSession, dir: String,
                           nAssign: Int = 2, minCos: Double = 0.4): DataFrame =
    embeddingNearDup(spark, dir,
      k = nearDupAutoK(Tables.embeddings(spark, dir).count()),
      nAssign = nAssign, minCos = minCos)

  /** Ceiling on the auto-derived K: §8.1's broadcastability row (the
    * centroid frame is K rows of 64 BIGINTs ≈ 530 B — 2²³ rows ≈ 4 GB,
    * the practical broadcast limit). Beyond n = 16·2²³ ≈ 1.3e8 vectors
    * the clamp holds K flat, so cell population grows ∝ n past that
    * point — callers at that scale shard the corpus or pass k
    * explicitly via [[embeddingNearDupIvfK]]. Without the clamp the
    * Int conversion would silently wrap at n > ~3.4e10. */
  private[graft] val MaxAutoIvfK = 1 << 23

  /** K ∝ n for q155's cells — the LINEAR-pair choice (§8.1's 100 TB
    * row): K = n/16 pins the expected cell population at 2n/K = 32
    * vectors (2-way assignment), so within-cell pair enumeration is
    * Θ(n·32) at ANY corpus size — the term that made q27's balanced
    * K = 2√n grow as n^1.5 is gone. The assignment cost that K ∝ n
    * would naively re-inflate to n·K is what the coarse probe of
    * [[embeddingNearDupIvf]] prunes. Floor NearDupK keeps the tiny
    * spec corpora on q27's configuration (at n ≤ 1024 both formulas
    * give 64, so the q27↔q155 recall contract compares like for
    * like); ceiling [[MaxAutoIvfK]] keeps the centroid frame
    * broadcastable instead of wrapping the Int. */
  private[graft] def nearDupIvfAutoK(n: Long): Int =
    math.max(NearDupK.toLong, math.min(MaxAutoIvfK.toLong, n / 16L)).toInt

  /** Parent-level sizes of the q155 coarse HIERARCHY, bottom-up
    * (SURVEY §8.3's "each level √ the one below", generalized to the
    * equal-fanout form that actually bounds per-vector work):
    *
    *  - depth d = the smallest d ≥ 2 with K ≤ 2^(10·d) (integer-only,
    *    engine-portable, capped at d = 5): d = 2 through K = 2²⁰,
    *    d = 3 to 2³⁰. The 2¹⁰ FANOUT CAP is the measured stage-cost
    *    tradeoff: every extra level costs a fixed filing + descent
    *    stage (~2 Spark jobs) plus another shuffle of the n-row
    *    vector-carrying frame, so depth must grow only once the
    *    depth-(d−1) fanout K^(1/(d−1)) exceeds the point where those
    *    stages repay their cost in saved cosines — the r13 A/B at
    *    sf100 (K = 125 000) put that point past √K ≈ 10³ (d = 3
    *    measured 724 s where d = 2 measures 457 s, FAMILY_r13c vs
    *    FAMILY_r12_sf100). The r12 rule d = ⌈log₂log₂K⌉ over-deepened
    *    at small K (d = 4 at K = 12 500, 110 cosines/vector across
    *    FIVE chained stages) and measured 20.9 s / 99.8 s at sf1/sf10
    *    where the depth-2 form runs 3.1 s / 18.0 s (§8.3 r13 note).
    *  - branching b = the smallest integer with b^d ≥ K (integer
    *    scan — engine-portable, no float pow).
    *  - level i (above the K centroids at level 0) holds the
    *    ⌈K/bⁱ⌉-prefix of the SAME md5 centroid order, i = 1..d-1.
    *
    * Per-vector probe cost ~b + (d-1)·nprobe·b = O(d·K^(1/d)): sf100's
    * K = 125 000 stays d = 2 (b = 354, by the measurement above);
    * d = 3 first engages past K = 2²⁰, covering [[MaxAutoIvfK]] = 2²³
    * with b = 204. At the gate corpus (K = 64): d = 2, b = 8,
    * levels 64 → 8. */
  private[graft] def ivfLevelSizes(k: Int): Seq[Int] = {
    require(k >= 1)
    var d = 2
    // Depth crossover at fanout 2¹⁰ (d = 2 until K > 2²⁰), set by
    // MEASUREMENT, not the asymptotic model: at sf100 (K = 125 000)
    // the d = 3 form runs 724 s where d = 2 runs 457 s
    // (FAMILY_r13c_q155_sf100 vs FAMILY_r12_sf100) — every extra level
    // re-shuffles the n-row ai-carrying frame through another
    // groupBy(vec_id), and that Θ(n) stage cost exceeds the Θ(n·√K)
    // dot savings until √K reaches ~10³ dots/vector. §8.3 r13 note.
    while (d < 6 && (1L << (10 * d)) < k) d += 1
    def pw(x: Long, e: Int): Long =
      (1 to e).foldLeft(1L)((r, _) => math.min(r * x, 1L << 40))
    var b = 2L
    while (pw(b, d) < k) b += 1
    (1 until d).map(i => ((k + pw(b, i) - 1) / pw(b, i)).toInt)
  }

  /** q155: the DEPLOYMENT path for q27's embedding near-dup — same
    * semantics (candidate pairs share ≥1 of their nAssign nearest
    * md5-sampled cells by cosine; exact integer-cosine verify at
    * ≥ minCos), re-knobbed and pruned for 100 TB:
    *
    *  - K ∝ n ([[nearDupIvfAutoK]]): cells hold ~32 vectors at any
    *    corpus size, so the pair stage is Θ(n), not q27's Θ(n^1.5)
    *    (measured 53.9×/decade at sf10 — the round-11 `weak` grade).
    *  - RECURSIVE coarse hierarchy ([[ivfLevelSizes]], auto-depth from
    *    K): the centroids themselves file under ⌈K/b⌉ coarser centers,
    *    those under ⌈K/b²⌉, … (each a prefix of the same md5 order); a
    *    vector ranks the occupied TOP-level cells, keeps its `nprobe`
    *    best, then descends — at each level scoring only the probed
    *    cells' member nodes — and takes nAssign centroids at the
    *    bottom. Per-vector work ~d·nprobe·K^(1/d) cosines, with depth
    *    chosen by [[ivfLevelSizes]]'s MEASURED crossover: d = 2 (the
    *    bare coarse probe) until K > 2²⁰, d = 3 to 2³⁰. The r13 A/B at
    *    sf100 (K = 125 000) decided that boundary: d = 3 saves 4× the
    *    cosines (350 vs 1 416/vector) yet measures 724 s where d = 2
    *    measures 457 s (FAMILY_r13c vs FAMILY_r12_sf100) — each extra
    *    level is another shuffle of the n-row vector-carrying frame,
    *    and that Θ(n) stage cost beats the Θ(n·√K) dot savings until
    *    √K ~ 10³. The hierarchy is therefore the >10⁷-vector regime's
    *    tool; at smaller K it deliberately stays flat.
    *
    * Deterministically APPROXIMATE vs the exact-assignment form (a
    * vector whose true nearest cell files under an unprobed coarse
    * branch mis-assigns — the standard IVF trade, now paid per level):
    * with nprobe ≥ the occupied-cell count at every level the probed
    * union is the whole centroid set, so q155 ≡ [[embeddingNearDup]]
    * at the same K exactly (SimilaritySpec pins that law at the gate's
    * derived d = 2 and at an explicit-k d = 3, plus the default-knob
    * recall floor vs q27 and exact-cosine precision). The oracle
    * replays the identical pruning chain at the gate corpus's derived
    * depth, so the gate stays exact row-for-row.
    *
    * Knobs (SURVEY §8.1): pair work ≈ n·(2·16)²/2 per §8.1's fixed
    * cell-size row; assignment ≈ n·d·nprobe·K^(1/d) cosines — no
    * residual polynomial term; nprobe trades cross-branch recall.
    * Like q118/q139, the bottom filing frame is K rows — bounded by
    * §8.1's K ≈ 10⁶–10⁷ broadcastability row ([[MaxAutoIvfK]]). */
  def embeddingNearDupIvf(spark: SparkSession, dir: String,
                          nAssign: Int = 2, minCos: Double = 0.4,
                          nprobe: Int = 3): DataFrame =
    embeddingNearDupIvfK(spark, dir,
      k = nearDupIvfAutoK(Tables.embeddings(spark, dir).count()),
      nAssign = nAssign, minCos = minCos, nprobe = nprobe)

  /** Parametric q155 body (k explicit — the spec's handle for the
    * nprobe-covers-everything ≡ q27 law). Every scoring stage is the
    * q27 assignCells idiom — crossJoin/join a broadcast candidate set,
    * CODEGEN'd dot_long cosine, bounded top-k via partial aggregation
    * — never a per-row HOF lambda: the first cut probed through
    * interpreted array expressions and measured 20×/decade where this
    * shape's dots are whole-stage-codegen'd (§8.3). */
  private[graft] def embeddingNearDupIvfK(spark: SparkSession, dir: String,
                                          k: Int, nAssign: Int, minCos: Double,
                                          nprobe: Int): DataFrame = {
    require(k >= 1 && nAssign >= 1 && nprobe >= 1)
    // r20 (VERDICT r19 item 5, SURVEY §8.1's former "noted, not yet
    // needed"): the level-0 FILING stage scores K·⌈K/b⌉ ≈ K²/b cosines
    // directly — super-linear in K (∝ K^(4/3) at d = 3). Under the
    // auto-K cap that term is BOUNDED at ~K^(1/3)/144 ≈ 1.4× the
    // per-corpus assignment cost (K = 2²³, b = 204: 3.4e11 filing vs
    // 2.4e11 assignment cosines at n = 16K), so the cap that already
    // guards broadcastability also prices the filing; past it the term
    // grows without bound, so an explicit k beyond the cap fails LOUDLY
    // instead of planning a silently super-linear codebook build.
    require(k <= MaxAutoIvfK,
      s"k = $k exceeds MaxAutoIvfK = $MaxAutoIvfK: the level-0 filing " +
        "term K²/b is super-linear in K (and the centroid frame " +
        "outgrows the broadcast budget) — shard the corpus and run " +
        "per-shard near-dup instead (SURVEY §8.1)")
    val v = scaled(spark, dir)
    val sizes = ivfLevelSizes(k)
    // FILING pass, bottom-up: level 0 = the K centroids; each OCCUPIED
    // level-i node files under its nearest level-(i+1) center. Argmax
    // cosine via typed arg-min over (-cos, cell): ties break to the
    // lower parent id, matching the oracle's ORDER BY cos DESC, cell. Only
    // occupied parents (≥1 filed child) carry upward — the
    // KMeans.assignIvf empty-twin lesson: a childless cell must never
    // burn probe budget. Each filing is ≤K rows through codegen + one
    // hash-agg, checkpointed (it feeds both the descent join and the
    // next filing).
    var members = centroids(v, k)
    val filings = sizes.map { li =>
      val parents = centroids(v, li).select(col("c_id").as("cell"),
        col("c_ai").as("cc_ai"), col("c_n2").as("cc_n2"))
      // typed arg-min (r18): the min(struct(nd, cell)) spelling planned
      // SortAggregate (ExecutedSweep counted 4 per filing chain);
      // MinByDoubleAgg keeps the ≤K-row filing in hash mode, and the
      // first(...) payload columns ride the same ObjectHashAggregate
      // (the q187-rerank mixed-buffer precedent, §20 item 5)
      val minByNd = udaf(new graft.functions.MinByDoubleAgg)
      val fm = members.crossJoin(broadcast(parents))
        .withColumn("nd", negate(cosine("c_ai", "cc_ai", "cc_n2", "c_n2")))
        .groupBy(col("c_id"))
        .agg(minByNd(col("nd"), col("cell")).as("cell"),
          first(col("c_ai")).as("c_ai"), first(col("c_n2")).as("c_n2"))
        .select(col("cell"), col("c_id"), col("c_ai"), col("c_n2"))
        .localCheckpoint(true)
      members = fm.select(col("cell")).distinct()
        .join(parents, Seq("cell"))
        .select(col("cell").as("c_id"), col("cc_ai").as("c_ai"),
          col("cc_n2").as("c_n2"))
      fm
    }
    // PROBE pass. At d = 2 (every K ≤ 2²⁰ per [[ivfLevelSizes]]) the
    // whole two-level codebook fits the §8.1 broadcastability budget
    // (≤ ~0.5 GB of 64-long vectors), and the r13 measurements showed
    // the relational probe's cost is NOT the cosines but the
    // crossJoin/TopKAgg ROW MATERIALIZATION — Θ(n·√K·nprobe) rows
    // through exchange machinery (457 s at sf100) for arithmetic worth
    // single-digit seconds. So the d = 2 probe runs as ONE
    // mapPartitions over the broadcast codebook (the sanctioned
    // last-resort shape, used exactly because the declarative form's
    // constant factor is the bottleneck): per vector, b root cosines →
    // top-nprobe → the probed cells' member centroids → top-nAssign —
    // identical arithmetic (exact-int dots, the same double expression
    // shapes) and identical (cos DESC, id ASC) tie rule as the TopKAgg
    // path, so the oracle and every spec law are untouched. Deeper
    // hierarchies (K > 2²⁰ — codebooks past the broadcast budget) keep
    // the relational descent below.
    if (sizes.length == 1) {
      val cells = broadcastProbe(spark, v, members, filings.head, nprobe, nAssign)
      return cellPairs(cells, v, minCos)
    }
    val topRoot = members.select(col("c_id").as("cell"),
      col("c_ai").as("cc_ai"), col("c_n2").as("cc_n2"))
    val root = nearestIds(v.crossJoin(broadcast(topRoot))
      .withColumn("cos", cosine("ai", "cc_ai", "cc_n2", "n2")),
      "vec_id", nprobe, col("cos"), "cell", "cell", "ai", "n2")
    val descended = filings.zipWithIndex.reverse.foldLeft(root) {
      case (cur, (fm, level)) =>
        nearestIds(cur.join(broadcast(fm), Seq("cell"))
          .withColumn("cos", cosine("ai", "c_ai", "c_n2", "n2")),
          "vec_id", if (level == 0) nAssign else nprobe, col("cos"), "c_id", "cell", "ai", "n2")
    }
    val cells = descended.select(col("cell").as("c_id"), col("vec_id"))
    cellPairs(cells, v, minCos)
  }

  def semDedup(spark: SparkSession, dir: String, k: Int = 8,
               iters: Int = 3, cosT: Double = 0.4): DataFrame = {
    val v = scaled(spark, dir).select(col("vec_id"), col("ai"))
    // one code path with q111 for the clusters (so the chained oracles
    // stay in lock-step)
    clusterPairs(KMeans.finalAssign(v, k, iters), cosT)
  }

  /** q139: SemDeDup with the IVF-PRUNED Lloyd assignment — the named
    * upgrade path for q118's n·K assignment cost: every round a vector
    * scores ~(1+nprobe)·√K centroid distances instead of K (coarse
    * probe over ⌈√K⌉ cells, then only the probed cells' members; see
    * [[KMeans.finalAssignIvf]]). With K ∝ n (the same auto-K as the
    * declared q118) per-round assignment work drops from n·n/128 to
    * n·√n strictly map-side; the pair stage is unchanged. The clusters
    * are deterministically APPROXIMATE vs exact Lloyd (unprobed-cell
    * misses, the standard IVF trade) — the oracle replays the identical
    * pruning, so the gate is still exact row-for-row. */
  def semDedupIvf(spark: SparkSession, dir: String, iters: Int = 3,
                  cosT: Double = 0.4, nprobe: Int = 2): DataFrame = {
    val v = scaled(spark, dir).select(col("vec_id"), col("ai"))
    val k = semDedupAutoK(Tables.embeddings(spark, dir).count())
    clusterPairs(KMeans.finalAssignIvf(v, k, iters, nprobe), cosT)
  }

  /** q140: SemDeDup APPLY — the end step q118/q139 stop short of
    * (Abbas et al. §3: keep one member per semantic-duplicate group).
    * The q139 pair list clusters transitively via star-contraction
    * connected components ([[Clusters.connectedComponents]] — near-dup
    * pairs only become actionable once clustered, the q129 precedent),
    * and the kept member is the component's canonical (minimum) vec_id
    * — the deterministic stand-in for the paper's arbitrary-member
    * choice, and free here because the CC labeling already IS the
    * component minimum. Singletons (vectors in no pair) keep
    * themselves. Output: one row per corpus vector with its canonical
    * id and keep/drop.
    *
    * Scale shape: CC runs on the PAIR set (the duplicate sliver, ≪ n);
    * the final labeling is one left join of the corpus against it —
    * vectors never enter the CC loop. */
  def semDedupApply(spark: SparkSession, dir: String): DataFrame = {
    val pairs = semDedupIvf(spark, dir).select(col("a_id"), col("b_id"))
    val comps = Clusters.connectedComponents(pairs)
    scaled(spark, dir).select(col("vec_id"))
      .join(comps.select(col("node").as("vec_id"), col("comp")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("canonical_id"))
      .withColumn("action",
        when(col("vec_id") === col("canonical_id"), "keep").otherwise("drop"))
  }

  /** q159: embedding near-dup APPLY — q140's keep/drop end step over
    * the q155 deployment pairs (the same composition class: near-dup
    * pairs only become actionable once clustered). The q155 pair list
    * clusters transitively via star-contraction connected components;
    * the kept member is the component's canonical (minimum) vec_id;
    * singletons keep themselves. Output: one row per corpus vector.
    *
    * Scale shape: CC runs on the PAIR sliver (≪ n); the final labeling
    * is one left join of the corpus against it — identical to q140,
    * with q155's linear pair stage underneath instead of q139's. */
  def embeddingNearDupApply(spark: SparkSession, dir: String): DataFrame = {
    val pairs = embeddingNearDupIvf(spark, dir).select(col("a_id"), col("b_id"))
    val comps = Clusters.connectedComponents(pairs)
    scaled(spark, dir).select(col("vec_id"))
      .join(comps.select(col("node").as("vec_id"), col("comp")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("canonical_id"))
      .withColumn("action",
        when(col("vec_id") === col("canonical_id"), "keep").otherwise("drop"))
  }

  /** q163: margin-based paraphrase/bitext-style pair MINING (Artetxe &
    * Schwenk, "Margin-based Parallel Corpus Mining with Multilingual
    * Sentence Embeddings", ACL 2019, ratio margin) — the selection rule
    * modern parallel-data pipelines (CCMatrix, NLLB) use instead of a
    * raw cosine threshold: score(x,y) = cos(x,y) / mean of the two
    * sides' top-k neighbor cosines, so a pair only survives if it is
    * distinctly closer than each side's OTHER neighbors (kills hub
    * vectors that cosine-threshold mining floods on).
    *
    * Candidates come from q27's shared-cell structure (never all-pairs);
    * per-vector k-NN stats accumulate in the bounded TopKAgg (map-side
    * partial agg — no window over candidates); the mutual-kNN gate and
    * margin are then one self-join of the ≤k-row-per-vector kNN frame.
    * The denominator sums the top array in its sorted order (foldLeft
    * over ≤k elements, post-aggregation — off the hot path), so the
    * double summation order is deterministic and engine-portable; the
    * margin is 6-dp rounded before the threshold compare, the q49
    * rule for ln/÷-derived scores.
    *
    * 100 TB shape: cells bound candidates exactly as q27/q155 (swap in
    * the q155 hierarchy for the assignment at deployment K); everything
    * downstream is linear in the candidate count with ≤k rows per
    * vector in every shuffle. */
  def marginMining(spark: SparkSession, dir: String, k: Int = 4,
                   nAssign: Int = 2, cells: Int = NearDupK,
                   minMargin: Double = 1.05): DataFrame = {
    val v = scaled(spark, dir)
    val cellsDf = assignCells(v, nAssign, cells).select(col("c_id"), col("vec_id"))
    val cand = cellsDf.as("x").join(cellsDf.as("y"), "c_id")
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    val scored = cand
      .join(v.select(col("vec_id").as("a_id"), col("ai").as("q_ai"),
        col("n2").as("a_n2")), "a_id")
      .join(v.select(col("vec_id").as("b_id"), col("ai"),
        col("n2").as("b_n2")), "b_id")
      .withColumn("cos", cosine("q_ai", "ai", "a_n2", "b_n2"))
      .select(col("a_id"), col("b_id"), col("cos"))
      .localCheckpoint(true) // feeds the kNN build AND the final join
    val directed = scored.select(col("a_id").as("x"), col("b_id").as("y"), col("cos"))
      .unionByName(scored.select(col("b_id").as("x"), col("a_id").as("y"), col("cos")))
    val topk = udaf(new graft.functions.TopKAgg(k))
    val stats = directed.groupBy(col("x"))
      .agg(topk(col("cos"), col("y")).as("top"))
      .select(col("x"),
        expr("aggregate(top, 0D, (a, p) -> a + p._1) / size(top)").as("avgk"),
        expr("transform(top, p -> p._2)").as("nbrs"))
    scored
      .join(stats.select(col("x").as("a_id"), col("avgk").as("ka"),
        col("nbrs").as("na")), "a_id")
      .join(stats.select(col("x").as("b_id"), col("avgk").as("kb"),
        col("nbrs").as("nb")), "b_id")
      .filter(array_contains(col("na"), col("b_id")) &&
        array_contains(col("nb"), col("a_id")))
      .withColumn("margin", round(col("cos") / ((col("ka") + col("kb")) / 2), 6))
      .filter(col("margin") >= minMargin)
      .select(col("a_id"), col("b_id"), col("cos"), col("margin"))
  }

  /** q165: SEMANTIC decontamination — the embedding-space complement of
    * the exact n-gram decontamination family (q79/q88/q152): training
    * vectors whose cosine to ANY held-out/eval vector exceeds τ are
    * flagged (the contamination class n-gram matching misses —
    * paraphrased or lightly re-worded benchmark text; cf. the
    * contamination analyses of GPT-3 §8 / PaLM and SemDeDup's cross-set
    * variant). The eval side is the deterministic md5-free hash split
    * `vec_id % 17 = 3` (≈6% of the corpus), standing in for a real
    * benchmark embedding table.
    *
    * Candidates are CROSS-SIDE only, scoped by q27's shared cells (the
    * q91 delta-vs-corpus idiom): eval and train memberships join on the
    * cell id, so no train×train or eval×eval pair is ever enumerated
    * and the per-cell work is |evalᵢ|·|trainᵢ|, not (evalᵢ+trainᵢ)².
    * Output is one row per flagged train vector (hit count + max
    * cosine) — the keep/drop input for a q140-style apply.
    *
    * 100 TB shape: the eval side of a real run is benchmark-sized
    * (≤10⁶ rows) — its cell memberships broadcast, making the
    * candidate join map-side; here both sides flow through the same
    * shuffle join, which AQE converts when the eval sliver fits. */
  def semanticDecontam(spark: SparkSession, dir: String, k: Int = NearDupK,
                       nAssign: Int = 2, cosT: Double = 0.4): DataFrame = {
    val v = scaled(spark, dir)
    val cells = assignCells(v, nAssign, k).select(col("c_id"), col("vec_id"))
    val isEval = col("vec_id") % 17 === 3
    val ev = cells.filter(isEval).select(col("c_id"), col("vec_id").as("e_id"))
    val tr = cells.filter(!isEval).select(col("c_id"), col("vec_id").as("t_id"))
    val cand = ev.join(tr, "c_id").select(col("e_id"), col("t_id")).distinct()
    cand
      .join(v.select(col("vec_id").as("e_id"), col("ai").as("q_ai"),
        col("n2").as("e_n2")), "e_id")
      .join(v.select(col("vec_id").as("t_id"), col("ai"),
        col("n2").as("t_n2")), "t_id")
      .withColumn("cos", cosine("q_ai", "ai", "e_n2", "t_n2"))
      .filter(col("cos") >= cosT)
      .groupBy(col("t_id"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("cos")).as("max_cos"))
  }

  /** Shared SemDeDup pair stage: norms computed once per VECTOR, not
    * per pair, and the assignment materialized once — it feeds both
    * join sides; the join shuffles on the cluster id only. */
  private def clusterPairs(assigned: DataFrame, cosT: Double): DataFrame = {
    val asg = assigned
      .withColumn("n2", expr("dot_long(ai, ai)"))
      .localCheckpoint(true)
    val a = asg.select(col("cluster"), col("vec_id").as("a_id"),
      col("ai").as("a_ai"), col("n2").as("a_n2"))
    val b = asg.select(col("cluster"), col("vec_id").as("b_id"),
      col("ai").as("b_ai"), col("n2").as("b_n2"))
    a.join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosine("a_ai", "b_ai", "a_n2", "b_n2").as("cos"))
      .filter(col("cos") >= cosT)
  }

  /** Shared SemDeDup oracle pair stage over the Lloyd chain's `afinal`
    * (exact q118 or pruned q139): within-cluster pairs above τ=0.4. */
  private val semPairsSql =
    """pairs AS (
      |  SELECT a_id, b_id, cos FROM (
      |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |      CAST(list_sum(list_transform(range(0, 64), i -> a.ai[i+1] * b.ai[i+1])) AS DOUBLE)
      |        / (sqrt(CAST(list_sum(list_transform(range(0, 64), i -> a.ai[i+1] * a.ai[i+1])) AS DOUBLE))
      |         * sqrt(CAST(list_sum(list_transform(range(0, 64), i -> b.ai[i+1] * b.ai[i+1])) AS DOUBLE))) AS cos
      |    FROM afinal a JOIN afinal b ON a.cid = b.cid AND a.vec_id < b.vec_id)
      |  WHERE cos >= 0.4)""".stripMargin

  /** The q155 oracle's WITH body, ending in CTE `ivfpairs` (a_id <
    * b_id, cos ≥ τ) — shared by q159's apply chain. Replays the
    * [[ivfLevelSizes]] depth-2 hierarchy UNROLLED (valid through the
    * full d = 2 regime, K ≤ 2²⁰ ⇔ n ≤ 16·2²⁰ ≈ 1.7e7 — far past the
    * sf0.01 gate corpus at K = 64 → b = 8, one coarse level of 8; the
    * Spark side derives the same depth from the same integer
    * fanout-cap formula, so the chains agree; the bSql range scan caps
    * at b = 4096 ⇔ K ≤ 2²⁴, still above the whole regime's ceiling
    * [[MaxAutoIvfK]] = 2²³).
    * The branching b is the smallest integer with b² ≥ K — an integer
    * range scan, engine-portable where a float pow() would not be.
    * CTEs are MATERIALIZED: each is referenced more than once and
    * DuckDB's default inlining re-expands the chain multiplicatively
    * (the q134 lesson, via q139). */
  private def neardupIvfChainSql: String = {
    val kSql = "(SELECT greatest(64, count(*) // 16) FROM v)"
    val bSql = s"(SELECT min(i) FROM range(2, 4097) t(i) WHERE i*i >= $kSql)"
    val l1Sql = s"(SELECT (k + b - 1) // b FROM (SELECT $kSql AS k, $bSql AS b))"
    def cosSql(a: String, an2: String, b: String, bn2: String) =
      s"""CAST(list_sum(list_transform(range(0, 64), i -> $a[i+1] * $b[i+1])) AS DOUBLE)
         |        / (sqrt(CAST($an2 AS DOUBLE)) * sqrt(CAST($bn2 AS DOUBLE)))""".stripMargin
    s"""v AS MATERIALIZED (
       |  SELECT vec_id, ai,
       |    list_sum(list_transform(range(0, 64), i -> ai[i+1] * ai[i+1])) AS n2
       |  FROM ($scaledSql)),
       |c AS MATERIALIZED (SELECT vec_id AS c_id, ai AS c_ai, n2 AS c_n2 FROM v
       |     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $kSql),
       |l1 AS MATERIALIZED (SELECT vec_id AS cell, ai AS cc_ai, n2 AS cc_n2 FROM v
       |     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $l1Sql),
       |fm0 AS MATERIALIZED (
       |  SELECT c_id, c_ai, c_n2, cell FROM (
       |    SELECT c.c_id, c.c_ai, c.c_n2, l1.cell,
       |      row_number() OVER (PARTITION BY c.c_id ORDER BY
       |        ${cosSql("c.c_ai", "c.c_n2", "l1.cc_ai", "l1.cc_n2")} DESC, l1.cell) AS rn
       |    FROM c, l1) WHERE rn = 1),
       |occ1 AS MATERIALIZED (SELECT * FROM l1
       |  WHERE cell IN (SELECT DISTINCT cell FROM fm0)),
       |pr1 AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, o.cell,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        ${cosSql("v.ai", "v.n2", "o.cc_ai", "o.cc_n2")} DESC, o.cell) AS rn
       |    FROM v, occ1 o) WHERE rn <= 3),
       |assign AS MATERIALIZED (
       |  SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, f.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        ${cosSql("v.ai", "v.n2", "f.c_ai", "f.c_n2")} DESC, f.c_id) AS rn
       |    FROM v JOIN pr1 p ON p.vec_id = v.vec_id JOIN fm0 f ON f.cell = p.cell)
       |  WHERE rn <= 2),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
       |  FROM assign x JOIN assign y ON x.c_id = y.c_id AND x.vec_id < y.vec_id),
       |ivfpairs AS MATERIALIZED (
       |  SELECT a_id, b_id, cos FROM (
       |    SELECT c.a_id, c.b_id,
       |      ${cosSql("a.ai", "a.n2", "b.ai", "b.n2")} AS cos
       |    FROM cand c JOIN v a ON a.vec_id = c.a_id JOIN v b ON b.vec_id = c.b_id)
       |  WHERE cos >= 0.4)""".stripMargin
  }

  /** q178: label-centroid separation audit — per class, the margin
    * between each vector's cosine to its OWN label centroid and its best
    * cosine to any OTHER centroid (the Fisher-style class-separation
    * telemetry an embedding-space curator reads before trusting labels
    * for SemDeDup cells, hard-negative mining, or stratified sampling;
    * negative margin = the vector sits closer to a foreign class).
    *
    * Determinism: centroid components are exact per-dim long sums (one
    * map-side [[graft.functions.VectorSumAgg]]) divided once; every
    * vector×centroid dot is a per-DIM fixed-point long (each double
    * product rounded, then integer-summed order-free — the q172 idiom),
    * so cosines and margins are identical expression trees over exact
    * integers in both engines; margins compare at 10⁻⁶ fixed point.
    *
    * Scale shape: one vector-sum aggregation (map-side, 64 longs per
    * label), centroids broadcast (|labels| rows), scoring map-side
    * behind the crossJoin, one vec_id-keyed reduce, one label rollup —
    * linear, no window, no vector×vector pairs. */
  def labelMargins(spark: SparkSession, dir: String): DataFrame = {
    val v = scaled(spark, dir).filter(col("n2") > 0)
    val vecSum = udaf(new graft.functions.VectorSumAgg(64))
    val cents = v.groupBy(col("label")).agg(
        vecSum(col("ai")).as("s"), count(lit(1)).as("cn"))
      .select(col("label").as("c_label"),
        expr("transform(s, x -> CAST(x AS DOUBLE) / cn)").as("c"))
      .withColumn("c2", expr(
        "aggregate(transform(c, x -> CAST(round(x * x) AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)"))
    val cos = v.crossJoin(broadcast(cents))
      .withColumn("dotfp", expr(
        """aggregate(transform(sequence(0, 63), i ->
          |  CAST(round(element_at(ai, i + 1) * element_at(c, i + 1)) AS BIGINT)),
          |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin))
      .withColumn("cos", cosine(col("dotfp"), col("n2"), col("c2")))
    cos.groupBy(col("vec_id"))
      .agg(first(col("label")).as("label"),
        max(when(col("c_label") === col("label"), col("cos"))).as("own"),
        max(when(col("c_label") =!= col("label"), col("cos"))).as("other"))
      .withColumn("mfp",
        expr("CAST(round((own - other) * 1e6) AS BIGINT)"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("mfp")).cast("double") / count(lit(1)) / 1e6, 6).as("mean_margin"),
        sum(when(col("mfp") < 0, 1L).otherwise(0L)).as("n_misassigned"))
  }

  /** q179: matryoshka prefix-mass audit (Kusupati et al. 2022 MRL): the
    * fraction of each vector's L2 norm carried by its first 8/16/32
    * dims, averaged per label — the measurement that decides whether
    * truncated embeddings are usable for coarse ANN stages (q155's
    * hierarchy probing with prefix dots is exactly such a consumer).
    * Entirely map-side over exact prefix norms (dot_long on slices);
    * per-vector ratios are 10⁻⁶ fixed-point longs so the per-label
    * means are order-free. */
  def matryoshkaMass(spark: SparkSession, dir: String): DataFrame = {
    def massFp(d: Int) = expr(
      s"CAST(round(sqrt(CAST(dot_long(slice(ai, 1, $d), slice(ai, 1, $d)) AS DOUBLE) " +
        s"/ CAST(n2 AS DOUBLE)) * 1e6) AS BIGINT)")
    scaled(spark, dir).filter(col("n2") > 0)
      .select(col("label"), massFp(8).as("m8"), massFp(16).as("m16"),
        massFp(32).as("m32"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("m8")).cast("double") / count(lit(1)) / 1e6, 6).as("mass8"),
        round(sum(col("m16")).cast("double") / count(lit(1)) / 1e6, 6).as("mass16"),
        round(sum(col("m32")).cast("double") / count(lit(1)) / 1e6, 6).as("mass32"))
  }

  val oracle: Map[String, String] = Map(
    "q178_label_margin" ->
      s"""WITH v AS (
         |  SELECT * FROM (
         |    SELECT vec_id, label, ai,
         |      list_sum(list_transform(range(0, 64), i -> ai[i+1] * ai[i+1])) AS n2
         |    FROM ($scaledSql)) WHERE n2 > 0),
         |ce AS (SELECT label, j, CAST(sum(x) AS BIGINT) AS s, count(*) AS cn FROM (
         |    SELECT label, unnest(ai) AS x, unnest(range(0, 64)) AS j FROM v)
         |  GROUP BY 1, 2),
         |cent AS MATERIALIZED (
         |  SELECT label AS c_label, list(CAST(s AS DOUBLE) / cn ORDER BY j) AS c
         |  FROM ce GROUP BY 1),
         |cw AS (SELECT c_label, c,
         |    CAST(list_sum(list_transform(c, x -> CAST(round(x * x) AS BIGINT))) AS BIGINT) AS c2
         |  FROM cent),
         |sc AS (SELECT vec_id, label, c_label,
         |    CAST(CAST(list_sum(list_transform(range(0, 64), i ->
         |        CAST(round(ai[i+1] * c[i+1]) AS BIGINT))) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(c2 AS DOUBLE))) AS cos
         |  FROM v CROSS JOIN cw),
         |mg AS (SELECT vec_id, label,
         |    CAST(round((max(CASE WHEN c_label = label THEN cos END)
         |      - max(CASE WHEN c_label <> label THEN cos END)) * 1e6) AS BIGINT) AS mfp
         |  FROM sc GROUP BY 1, 2)
         |SELECT label, count(*) AS n_vecs,
         |  round(CAST(sum(mfp) AS DOUBLE) / count(*) / 1e6, 6) AS mean_margin,
         |  CAST(sum(CASE WHEN mfp < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misassigned
         |FROM mg GROUP BY label""".stripMargin,
    "q179_matryoshka_mass" ->
      s"""WITH v AS (
         |  SELECT * FROM (
         |    SELECT label, ai,
         |      list_sum(list_transform(range(0, 64), i -> ai[i+1] * ai[i+1])) AS n2
         |    FROM ($scaledSql)) WHERE n2 > 0),
         |fp AS (SELECT label,
         |    CAST(round(sqrt(CAST(CAST(list_sum(list_transform(range(0, 8), i -> ai[i+1] * ai[i+1])) AS BIGINT) AS DOUBLE)
         |      / CAST(n2 AS DOUBLE)) * 1e6) AS BIGINT) AS m8,
         |    CAST(round(sqrt(CAST(CAST(list_sum(list_transform(range(0, 16), i -> ai[i+1] * ai[i+1])) AS BIGINT) AS DOUBLE)
         |      / CAST(n2 AS DOUBLE)) * 1e6) AS BIGINT) AS m16,
         |    CAST(round(sqrt(CAST(CAST(list_sum(list_transform(range(0, 32), i -> ai[i+1] * ai[i+1])) AS BIGINT) AS DOUBLE)
         |      / CAST(n2 AS DOUBLE)) * 1e6) AS BIGINT) AS m32
         |  FROM v)
         |SELECT label, count(*) AS n_vecs,
         |  round(CAST(sum(m8) AS DOUBLE) / count(*) / 1e6, 6) AS mass8,
         |  round(CAST(sum(m16) AS DOUBLE) / count(*) / 1e6, 6) AS mass16,
         |  round(CAST(sum(m32) AS DOUBLE) / count(*) / 1e6, 6) AS mass32
         |FROM fp GROUP BY label""".stripMargin,
    "q106_hard_negatives" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, ai,
         |    list_sum(list_transform(range(0, 64), i -> ai[i+1] * ai[i+1])) AS n2
         |  FROM ($scaledSql)),
         |q AS (SELECT vec_id AS q_id, label AS q_label, ai AS q_ai, n2 AS q_n2
         |      FROM v WHERE vec_id % 50 = 0),
         |pairs AS (
         |  SELECT q_id, vec_id,
         |    CAST(list_sum(list_transform(range(0, 64), i -> q_ai[i+1] * ai[i+1])) AS DOUBLE)
         |      / (sqrt(CAST(q_n2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) AS cos
         |  FROM q JOIN v ON q_label <> label)
         |SELECT q_id, vec_id, cos, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM pairs)
         |WHERE rn <= 5""".stripMargin,
    "q105_random_projection" -> {
      val cols = (0 until ProjDims).map { j =>
        (0 until InDims).map(i => s"${projSign(i, j)} * ai[${i + 1}]")
          .mkString(" + ") + s" AS p$j"
      }.mkString(",\n  ")
      s"""SELECT vec_id, label,\n  $cols\nFROM ($scaledSql)"""
    },
    "q72_label_centroids" ->
      s"""WITH v AS ($scaledSql),
         |sums AS (
         |  SELECT label, i, sum(ai[i + 1]) AS s
         |  FROM v, (SELECT unnest(range(0, 64)) AS i)
         |  GROUP BY 1, 2),
         |norms AS (SELECT label, CAST(sum(s * s) AS BIGINT) AS sum_norm2 FROM sums GROUP BY 1),
         |counts AS (SELECT label, count(*) AS n_vecs FROM v GROUP BY 1)
         |SELECT label, n_vecs, sum_norm2
         |FROM counts JOIN norms USING (label)""".stripMargin,
    "q25_cosine_topk" ->
      s"""WITH v AS (
         |  SELECT vec_id, ai,
         |    list_sum(list_transform(range(0, 64), i -> ai[i+1] * ai[i+1])) AS n2
         |  FROM ($scaledSql)),
         |q AS (SELECT vec_id AS q_id, ai AS q_ai, n2 AS q_n2 FROM v WHERE vec_id % 50 = 0),
         |pairs AS (
         |  SELECT q_id, vec_id,
         |    CAST(list_sum(list_transform(range(0, 64), i -> q_ai[i+1] * ai[i+1])) AS DOUBLE)
         |      / (sqrt(CAST(q_n2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) AS cos
         |  FROM q JOIN v ON q_id <> vec_id)
         |SELECT q_id, vec_id, cos, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM pairs)
         |WHERE rn <= 5""".stripMargin,
    // q26: deterministic IVF — the oracle implements the identical
    // assign/probe/rerank pipeline (plus SimilaritySpec's independent
    // exact-cosine containment check against brute force).
    "q26_ann_ivf" ->
      s"""WITH ${assignSql(1, IvfK)},
         |q AS (SELECT vec_id AS q_id, ai AS q_ai, n2 AS q_n2 FROM v WHERE vec_id % 50 = 0),
         |probe AS (
         |  SELECT q_id, q_ai, q_n2, c_id FROM (
         |    SELECT q.q_id, q.q_ai, q.q_n2, c.c_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        CAST(list_sum(list_transform(range(0, 64), i -> q.q_ai[i+1] * c.c_ai[i+1])) AS DOUBLE)
         |          / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC, c.c_id) AS rn
         |    FROM q, c)
         |  WHERE rn <= 2),
         |cand AS (
         |  SELECT p.q_id, a.vec_id,
         |    CAST(list_sum(list_transform(range(0, 64), i -> p.q_ai[i+1] * a.ai[i+1])) AS DOUBLE)
         |      / (sqrt(CAST(p.q_n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE))) AS cos
         |  FROM probe p JOIN assign a ON a.c_id = p.c_id AND p.q_id <> a.vec_id)
         |SELECT q_id, vec_id, cos, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM cand)
         |WHERE rn <= 5""".stripMargin,
    // q76: the oracle recomputes the SAME md5-derived hyperplanes and
    // re-runs the identical sign/band/bucket/rerank pipeline INCLUDING
    // the 1-bit multiprobe expansion of each query band value (plus the
    // independent exact-cosine containment check in SimilaritySpec).
    "q76_ann_lsh" ->
      s"""WITH v AS (
         |  SELECT vec_id, ai,
         |    list_sum(list_transform(range(0, 64), i -> ai[i+1] * ai[i+1])) AS n2
         |  FROM ($scaledSql)),
         |planes AS (
         |  SELECT p, list_transform(range(0, 64),
         |    i -> CASE WHEN substring(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) < '8'
         |              THEN 1 ELSE -1 END) AS coef
         |  FROM (SELECT unnest(range(0, $LshPlanes)) AS p)),
         |bits AS (
         |  SELECT v.vec_id, planes.p,
         |    CASE WHEN list_sum(list_transform(range(0, 64), k -> v.ai[k+1] * planes.coef[k+1])) >= 0
         |         THEN '1' ELSE '0' END AS bit
         |  FROM v, planes),
         |sigs AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS sig FROM bits GROUP BY 1),
         |buckets AS (
         |  SELECT vec_id, b, substring(sig, CAST(b * $LshBandBits + 1 AS INT), $LshBandBits) AS bv
         |  FROM sigs, (SELECT unnest(range(0, ${LshPlanes / LshBandBits})) AS b)),
         |qprobe AS (
         |  SELECT vec_id, b, bv FROM buckets WHERE vec_id % 50 = 0
         |  UNION
         |  SELECT vec_id, b,
         |    substring(bv, 1, CAST(i - 1 AS INT))
         |      || (CASE WHEN substring(bv, CAST(i AS INT), 1) = '1' THEN '0' ELSE '1' END)
         |      || substring(bv, CAST(i + 1 AS INT), CAST($LshBandBits - i AS INT)) AS bv
         |  FROM buckets, (SELECT unnest(range(1, $LshBandBits + 1)) AS i)
         |  WHERE vec_id % 50 = 0),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, x.vec_id
         |  FROM qprobe q JOIN buckets x ON q.b = x.b AND q.bv = x.bv AND q.vec_id <> x.vec_id),
         |scored AS (
         |  SELECT c.q_id, c.vec_id,
         |    CAST(list_sum(list_transform(range(0, 64), k -> a.ai[k+1] * x.ai[k+1])) AS DOUBLE)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(x.n2 AS DOUBLE))) AS cos
         |  FROM cand c JOIN v a ON a.vec_id = c.q_id JOIN v x ON x.vec_id = c.vec_id)
         |SELECT q_id, vec_id, cos, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored)
         |WHERE rn <= 5""".stripMargin,
    // q87: PQ/ADC — the oracle replays codebook, per-subspace argmin
    // encoding (row_number over (d, c_id) ≡ the Spark struct-min), the
    // query distance tables, and the table-lookup sum, all in exact
    // BIGINT arithmetic.
    "q87_pq_ann" ->
      s"""WITH v AS (SELECT vec_id, ai FROM ($scaledSql)),
         |c AS (SELECT vec_id AS c_id, ai AS c_ai FROM v
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |pairs AS (
         |  SELECT v.vec_id, s.s, c.c_id,
         |    list_sum(list_transform(range(CAST(s.s*8 AS INT), CAST(s.s*8+8 AS INT)),
         |      i -> (v.ai[i+1] - c.c_ai[i+1]) * (v.ai[i+1] - c.c_ai[i+1]))) AS d
         |  FROM v, (SELECT unnest(range(0, 8)) AS s) s, c),
         |enc AS (
         |  SELECT vec_id, s, c_id AS code FROM (
         |    SELECT vec_id, s, c_id,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c_id) AS rn
         |    FROM pairs)
         |  WHERE rn = 1),
         |qd AS (SELECT vec_id AS q_id, s, c_id, d FROM pairs WHERE vec_id % 50 = 0),
         |approx AS (
         |  SELECT qd.q_id, e.vec_id, CAST(sum(qd.d) AS BIGINT) AS approx_dist
         |  FROM enc e JOIN qd ON qd.s = e.s AND qd.c_id = e.code AND qd.q_id <> e.vec_id
         |  GROUP BY 1, 2)
         |SELECT q_id, vec_id, approx_dist, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) AS rn
         |  FROM approx)
         |WHERE rn <= 5""".stripMargin,
    // q27: cluster-scoped near-dup — the oracle mirrors the 2-way cell
    // assignment and within-cell pair enumeration exactly.
    "q118_semdedup" ->
      s"""WITH ${KMeans.oracleChain("(SELECT greatest(8, count(*) // 128) FROM v)", 3)},
         |$semPairsSql
         |SELECT a_id, b_id, cos FROM pairs""".stripMargin,
    "q139_semdedup_ivf" ->
      s"""WITH ${KMeans.oracleChainIvf("(SELECT greatest(8, count(*) // 128) FROM v)", 3, 2)},
         |$semPairsSql
         |SELECT a_id, b_id, cos FROM pairs""".stripMargin,
    // q140: the q139 chain, continued with recursive-CTE reachability
    // (the q54 oracle pattern) — component id = min member, so the
    // keep rule is `vec_id = canonical_id`; singletons keep themselves.
    "q140_semdedup_apply" ->
      s"""WITH RECURSIVE ${KMeans.oracleChainIvf("(SELECT greatest(8, count(*) // 128) FROM v)", 3, 2)},
         |$semPairsSql,
         |und AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |        UNION ALL SELECT b_id, a_id FROM pairs),
         |walk(node, lbl) AS (
         |  SELECT src, src FROM und
         |  UNION
         |  SELECT u.dst, w.lbl FROM walk w JOIN und u ON u.src = w.node),
         |comp AS (SELECT node, min(lbl) AS comp FROM walk GROUP BY node)
         |SELECT v.vec_id, coalesce(c.comp, v.vec_id) AS canonical_id,
         |  CASE WHEN coalesce(c.comp, v.vec_id) = v.vec_id
         |       THEN 'keep' ELSE 'drop' END AS action
         |FROM v LEFT JOIN comp c ON c.node = v.vec_id""".stripMargin,
    // q155: the oracle replays the coarse-probed pruning exactly —
    // same md5-prefix coarse set, same filing / probe / top-nAssign
    // tie-breaks (cos DESC, id ASC), same scalar-subquery auto-K — so
    // the gate is exact row-for-row despite the operator being
    // deterministically approximate vs exact assignment.
    "q155_embedding_neardup_ivf" ->
      s"""WITH $neardupIvfChainSql
         |SELECT a_id, b_id, cos FROM ivfpairs""".stripMargin,
    // q159: the q155 chain continued with recursive-CTE reachability —
    // q140's tail verbatim (component id = min member, keep rule
    // vec_id = canonical_id, singletons keep themselves).
    "q159_embedding_dedup_apply" ->
      s"""WITH RECURSIVE $neardupIvfChainSql,
         |und AS (SELECT a_id AS src, b_id AS dst FROM ivfpairs
         |        UNION ALL SELECT b_id, a_id FROM ivfpairs),
         |walk(node, lbl) AS (
         |  SELECT src, src FROM und
         |  UNION
         |  SELECT u.dst, w.lbl FROM walk w JOIN und u ON u.src = w.node),
         |comp AS (SELECT node, min(lbl) AS comp FROM walk GROUP BY node)
         |SELECT v.vec_id, coalesce(c.comp, v.vec_id) AS canonical_id,
         |  CASE WHEN coalesce(c.comp, v.vec_id) = v.vec_id
         |       THEN 'keep' ELSE 'drop' END AS action
         |FROM v LEFT JOIN comp c ON c.node = v.vec_id""".stripMargin,
    "q27_embedding_neardup" ->
      s"""WITH ${assignSql(2, s"(SELECT greatest($NearDupK, 2 * CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM v)")},
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
         |  FROM assign x JOIN assign y ON x.c_id = y.c_id AND x.vec_id < y.vec_id)
         |SELECT a_id, b_id, cos FROM (
         |  SELECT c.a_id, c.b_id,
         |    CAST(list_sum(list_transform(range(0, 64), i -> a.ai[i+1] * b.ai[i+1])) AS DOUBLE)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
         |  FROM cand c JOIN v a ON a.vec_id = c.a_id JOIN v b ON b.vec_id = c.b_id)
         |WHERE cos >= 0.4""".stripMargin,
    "q163_margin_mining" ->
      s"""WITH ${assignSql(2, NearDupK)},
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
         |  FROM assign x JOIN assign y ON x.c_id = y.c_id AND x.vec_id < y.vec_id),
         |scored AS MATERIALIZED (
         |  SELECT c.a_id, c.b_id,
         |    CAST(list_sum(list_transform(range(0, 64), i -> a.ai[i+1] * b.ai[i+1])) AS DOUBLE)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
         |  FROM cand c JOIN v a ON a.vec_id = c.a_id JOIN v b ON b.vec_id = c.b_id),
         |directed AS (
         |  SELECT a_id AS x, b_id AS y, cos FROM scored
         |  UNION ALL SELECT b_id AS x, a_id AS y, cos FROM scored),
         |knn AS MATERIALIZED (
         |  SELECT x, y, cos FROM (
         |    SELECT x, y, cos,
         |      row_number() OVER (PARTITION BY x ORDER BY cos DESC, y) AS rn
         |    FROM directed)
         |  WHERE rn <= 4),
         |stats AS MATERIALIZED (
         |  SELECT x, list_sum(list(cos ORDER BY cos DESC, y)) / count(*) AS avgk
         |  FROM knn GROUP BY x)
         |SELECT a_id, b_id, cos, margin FROM (
         |  SELECT s.a_id, s.b_id, s.cos,
         |    round(s.cos / ((sa.avgk + sb.avgk) / 2), 6) AS margin
         |  FROM scored s
         |  JOIN knn kab ON kab.x = s.a_id AND kab.y = s.b_id
         |  JOIN knn kba ON kba.x = s.b_id AND kba.y = s.a_id
         |  JOIN stats sa ON sa.x = s.a_id
         |  JOIN stats sb ON sb.x = s.b_id)
         |WHERE margin >= 1.05""".stripMargin,
    "q165_semantic_decontam" ->
      s"""WITH ${assignSql(2, NearDupK)},
         |ev AS (SELECT c_id, vec_id AS e_id FROM assign WHERE vec_id % 17 = 3),
         |tr AS (SELECT c_id, vec_id AS t_id FROM assign WHERE vec_id % 17 <> 3),
         |cand AS (
         |  SELECT DISTINCT e_id, t_id FROM ev JOIN tr USING (c_id))
         |SELECT t_id, count(*) AS n_eval_hits, max(cos) AS max_cos FROM (
         |  SELECT c.t_id,
         |    CAST(list_sum(list_transform(range(0, 64), i -> e.ai[i+1] * t.ai[i+1])) AS DOUBLE)
         |      / (sqrt(CAST(e.n2 AS DOUBLE)) * sqrt(CAST(t.n2 AS DOUBLE))) AS cos
         |  FROM cand c JOIN v e ON e.vec_id = c.e_id JOIN v t ON t.vec_id = c.t_id)
         |WHERE cos >= 0.4
         |GROUP BY 1""".stripMargin,
    // q168: the oracle replays the identical integer-arithmetic
    // quantizer over the same fixed-point components — `//` is DuckDB's
    // integer floor division, matching Spark's DIV on the nonnegative
    // operands here.
    "q168_int8_quantize" ->
      s"""WITH v AS (SELECT vec_id, ai FROM ($scaledSql)),
         |d AS (SELECT vec_id, i AS dim, ai[i+1] AS x
         |      FROM v, (SELECT unnest(range(0, 64)) AS i)),
         |st AS (SELECT dim, min(x) AS mn, max(x) AS mx, max(x) - min(x) AS rng
         |       FROM d GROUP BY 1),
         |qn AS (SELECT d.dim, d.x, st.mn, st.mx, st.rng,
         |         CASE WHEN st.rng > 0
         |           THEN (510 * (d.x - st.mn) + st.rng) // (2 * st.rng)
         |           ELSE 0 END AS qv
         |       FROM d JOIN st USING (dim)),
         |e AS (SELECT dim, x, qv, abs(255 * (x - mn) - qv * rng) AS err255 FROM qn)
         |SELECT dim, count(*) AS n, min(x) AS mn, max(x) AS mx,
         |  min(qv) AS q_min, max(qv) AS q_max,
         |  CAST(sum(err255) AS BIGINT) AS sum_err255,
         |  CAST(sum(err255) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 255000000.0) AS mean_abs_err
         |FROM e GROUP BY 1""".stripMargin,
  )
}
