package graft

import graft.ops.Similarity
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Properties of the similarity family beyond the oracle: the bounded
  * TopKAgg plan must equal the window-function formulation, IVF must be a
  * verified-subset of brute force with measurable recall, and the
  * cluster-scoped near-dup must have perfect precision (SURVEY.md §5.3). */
class SimilaritySpec extends SparkSpec {

  private val dot =
    "aggregate(zip_with(q_ai, ai, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"

  /** Window-function top-k reference (the plan q25 deliberately avoids). */
  private def windowTopK = {
    val v = Similarity.scaled(spark, sf)
    val q = v.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("ai").as("q_ai"), col("n2").as("q_n2"))
    val pairs = q.join(v, col("q_id") =!= col("vec_id"))
      .withColumn("cos", expr(dot).cast("double") /
        (sqrt(col("q_n2").cast("double")) * sqrt(col("n2").cast("double"))))
    pairs.withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rn"))
  }

  test("aggregator top-k equals window-function top-k") {
    assertSameRows(Similarity.cosineTopK(spark, sf), windowTopK)
  }

  /** The kernel law the family's exactness claims rest on, over every
    * ordered pair of one IVF cell: the `cosine` column equals its driver
    * twin `cosOf` and is symmetric, both bit for bit, and the TopKAgg
    * ranking over it equals row_number's (score desc, id asc) — with
    * ties forced by an id-shifted copy of each vector. */
  test("cosine kernel: driver twin, symmetry and tie order are exact") {
    val v = Similarity.scaled(spark, sf).filter(col("n2") > 0)
    val cells = Similarity.assignCells(v, 1, Similarity.NearDupK)
    val cell = cells.groupBy(col("c_id")).count()
      .orderBy(desc("count"), asc("c_id")).first().getLong(0)
    val m = cells.filter(col("c_id") === cell).select(col("vec_id"), col("ai"), col("n2"))
    val pairs = m.select(col("vec_id").as("a_id"), col("ai").as("a_ai"), col("n2").as("a_n2"))
      .crossJoin(m.select(col("vec_id").as("b_id"), col("ai").as("b_ai"), col("n2").as("b_n2")))
      .filter(col("a_id") =!= col("b_id"))
    val rows = pairs.select(col("a_ai"), col("b_ai"), col("a_n2"), col("b_n2"),
        Similarity.cosine("a_ai", "b_ai", "a_n2", "b_n2").as("ab"),
        Similarity.cosine("b_ai", "a_ai", "b_n2", "a_n2").as("ba"))
      .collect()
    assert(rows.length >= 12, s"cell $cell has too few pairs: ${rows.length}")
    rows.foreach { r =>
      val a = r.getSeq[Long](0); val b = r.getSeq[Long](1)
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val (ab, ba) = (r.getDouble(4), r.getDouble(5))
      assert(ab == Similarity.cosOf(dot, r.getLong(2), r.getLong(3)), s"column $ab vs driver twin")
      assert(java.lang.Double.doubleToRawLongBits(ab) == java.lang.Double.doubleToRawLongBits(ba),
        s"cosine(a, b) = $ab but cosine(b, a) = $ba")
    }
    val shift = 1L << 40
    val scored = pairs.unionByName(pairs.withColumn("b_id", col("b_id") + shift))
      .withColumn("cos", Similarity.cosine("a_ai", "b_ai", "a_n2", "b_n2"))
      .select(col("a_id"), col("b_id"), col("cos"))
    val top = Similarity.rankedTopK(scored, "a_id", 4, "b_id")
    val byWindow = scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("a_id")).orderBy(desc("cos"), asc("b_id"))))
      .filter(col("rn") <= 4)
    assertSameRows(top, byWindow)
    val ranked = top.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(ranked.exists { case (a, b, rn) => rn == 2 && ranked.contains((a, b - shift, 1)) },
      "the forced ties never reached the top-k")
  }

  test("IVF results are true cosines and recall is positive") {
    val brute = Similarity.cosineTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRows = Similarity.ivfTopK(spark, sf).collect()
    val ivf = ivfRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // this synthetic corpus is nearly unclustered (top-5 neighbors are
    // scattered across cells), so nprobe=2 of IvfK=16 cells recalls a
    // modest fraction; the spec pins the floor, the oracle pins exact
    // determinism.
    assert(recall >= 0.15, s"IVF recall $recall below 0.15")
    assert(ivfRows.forall(_.getInt(3) >= 1), "rn starts at 1")
    assert(ivf.size == ivfRows.length, "no duplicate (q, vec) results")
  }

  /** Independent brute-force containment (not the mirrored oracle): every
    * IVF-reported cosine must equal the EXACT cosine of that pair — a
    * common-mode assignment bug in both the Spark pipeline and its
    * mirrored DuckDB SQL would still fail here. */
  test("IVF-reported scores equal the exact cosines") {
    val v = Similarity.scaled(spark, sf)
    val q = v.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("ai").as("q_ai"), col("n2").as("q_n2"))
    val exact = q.join(v, col("q_id") =!= col("vec_id"))
      .withColumn("cos", expr(dot).cast("double") /
        (sqrt(col("q_n2").cast("double")) * sqrt(col("n2").cast("double"))))
      .select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfTopK(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact(key) == r.getDouble(2), s"IVF cosine for $key is not the exact cosine")
    }
  }

  test("LSH candidates rerank to exact cosines with positive recall") {
    val v = Similarity.scaled(spark, sf)
    val q = v.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("ai").as("q_ai"), col("n2").as("q_n2"))
    val exact = q.join(v, col("q_id") =!= col("vec_id"))
      .withColumn("cos", expr(dot).cast("double") /
        (sqrt(col("q_n2").cast("double")) * sqrt(col("n2").cast("double"))))
      .select("q_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(spark, sf).collect()
    assert(lsh.nonEmpty, "LSH must surface candidates on this corpus")
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact(key) == r.getDouble(2), s"LSH cosine for $key is not the exact cosine")
    }
    val brute = Similarity.cosineTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & hits).size.toDouble / brute.size
    info(f"LSH recall vs brute force at sf0.001: $recall%.3f")
    // default lshTopK multiprobes (probeBits = 1); floor raised from the
    // single-bucket era's 0.05 to match
    assert(recall >= 0.3, s"LSH recall floor breached: $recall")
  }

  test("multiprobe recall dominates the single-bucket probe") {
    val brute = Similarity.cosineTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(probeBits: Int): Double = {
      val hits = Similarity.lshTopK(spark, sf, probeBits = probeBits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & hits).size.toDouble / brute.size
    }
    val r0 = recall(0)
    val r1 = recall(1)
    info(f"LSH recall at sf0.001: exact-bucket $r0%.3f, 1-bit multiprobe $r1%.3f")
    // a query's candidate set under multiprobe is a superset of the
    // single-bucket candidates, and a true top-k member is outranked by
    // < k vectors globally, so per-query recall is monotone in the
    // candidate set — multiprobe can never lose a hit
    assert(r1 >= r0, s"multiprobe recall $r1 must dominate single-bucket $r0")
    // measured: 0.12 single-bucket vs 0.58 multiprobe on this corpus —
    // the floor pins the multiprobe lift, not just positivity
    assert(r1 >= 0.3, s"multiprobe recall floor breached: $r1")
  }

  test("centroid set is bounded regardless of corpus size") {
    val v = Similarity.scaled(spark, sf)
    assert(Similarity.centroids(v, Similarity.IvfK).count() == Similarity.IvfK)
    // 3× the corpus (shifted ids): the centroid count must NOT grow —
    // this is the round-2 O(n)-centroids defect pinned as a red test
    val tripled = v
      .union(v.withColumn("vec_id", col("vec_id") + 100000))
      .union(v.withColumn("vec_id", col("vec_id") + 200000))
    assert(Similarity.centroids(tripled, Similarity.IvfK).count() == Similarity.IvfK)
    assert(Similarity.centroids(tripled, Similarity.NearDupK).count() == Similarity.NearDupK)
  }

  test("hard negatives: every mined negative has a different label than its query") {
    val labels = Similarity.scaled(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = Similarity.hardNegatives(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (q, v) = (r.getLong(0), r.getLong(1))
      assert(labels(q) != labels(v), s"same-label pair mined as negative: $r")
    }
    // negatives are the hardest available: for each query, no excluded
    // different-label vector scores above the mined floor
    val perQ = out.groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(2)).min).toMap
    val v = Similarity.scaled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray)).toSeq
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
      val na = math.sqrt(a.map(x => BigInt(x) * BigInt(x)).sum.toDouble)
      val nb = math.sqrt(b.map(x => BigInt(x) * BigInt(x)).sum.toDouble)
      dot.toDouble / (na * nb)
    }
    val mined = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((qid, qlab, qai) <- v if qid % 50 == 0; (vid, vlab, vai) <- v
         if vlab != qlab && !mined((qid, vid))) {
      assert(cos(qai, vai) <= perQ(qid) + 1e-9,
        s"vector $vid beats query $qid's mined floor but was not mined")
    }
  }

  test("random projection preserves pairwise distances within the JL band") {
    val p = Similarity.randomProjection(spark, sf).collect()
      .map(r => r.getLong(0) -> (0 until 16).map(j => r.getLong(2 + j)).toArray).toMap
    val v = Similarity.scaled(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2).toArray).toMap
    def d2(a: Array[Long], b: Array[Long]): Double =
      a.zip(b).map { case (x, y) => val w = (x - y).toDouble; w * w }.sum
    // E||P(u-v)||^2 = k * ||u-v||^2 for the ±1 matrix; check the ratio
    // concentrates over a deterministic sample of pairs
    val ids = v.keys.toSeq.sorted.take(40)
    val ratios = for {
      i <- ids.indices; j <- i + 1 until ids.length
      u = ids(i); w = ids(j)
    } yield d2(p(u), p(w)) / (16.0 * d2(v(u), v(w)))
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"JL ratio mean off: $mean")
    // k=16 concentration is loose per pair, and a FIXED sign matrix makes
    // pair deviations correlated (they share the matrix's singular
    // directions) — so bound the bulk, not a fictional iid tail
    assert(ratios.count(r => r > 0.2 && r < 2.5).toDouble / ratios.size > 0.85,
      "too many pairs outside the generous JL band")
  }

  test("random projection is exactly linear (integer arithmetic, no rounding)") {
    val rows = Similarity.randomProjection(spark, sf).collect()
      .map(r => r.getLong(0) -> (0 until 16).map(j => r.getLong(2 + j)).toArray).toMap
    val v = Similarity.scaled(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2).toArray).toMap
    val ids = v.keys.toSeq.sorted.take(5)
    // recompute P from the published sign matrix — bit-exact agreement
    ids.foreach { id =>
      val expect = (0 until 16).map(j =>
        (0 until 64).map(i => Similarity.projSign(i, j) * v(id)(i)).sum)
      assert(expect == rows(id).toSeq, s"projection mismatch for vec $id")
    }
  }

  test("cluster-scoped near-dup has perfect precision vs all-pairs") {
    val v = Similarity.scaled(spark, sf)
    val a = v.select(col("vec_id").as("a_id"), col("ai").as("q_ai"), col("n2").as("a_n2"))
    val b = v.select(col("vec_id").as("b_id"), col("ai"), col("n2").as("b_n2"))
    val allPairs = a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", expr(dot).cast("double") /
        (sqrt(col("a_n2").cast("double")) * sqrt(col("b_n2").cast("double"))))
      .filter(col("cos") >= 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scoped = Similarity.embeddingNearDup(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(scoped.subsetOf(allPairs), "cluster-scoped pairs must all be true near-dups")
  }

  test("q118 SemDeDup: precision total, within-cluster recall total") {
    val v = Similarity.scaled(spark, sf)
    val a = v.select(col("vec_id").as("a_id"), col("ai").as("q_ai"), col("n2").as("a_n2"))
    val b = v.select(col("vec_id").as("b_id"), col("ai"), col("n2").as("b_n2"))
    val allPairs = a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", expr(dot).cast("double") /
        (sqrt(col("a_n2").cast("double")) * sqrt(col("b_n2").cast("double"))))
      .filter(col("cos") >= 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clusterOf = graft.ops.KMeans.kmeans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Similarity.semDedup(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision: every emitted pair is a true near-dup
    assert(got.subsetOf(allPairs))
    // emitted pairs never cross clusters
    got.foreach { case (x, y) => assert(clusterOf(x) == clusterOf(y)) }
    // recall contract: every true near-dup pair that lands in one
    // cluster IS emitted — the only misses are cross-cluster by design
    val coClustered = allPairs.filter { case (x, y) => clusterOf(x) == clusterOf(y) }
    assert(got == coClustered,
      s"missed ${coClustered -- got} / extra ${got -- coClustered}")
  }

  test("q140 semdedup apply: canonical = min of transitive closure, keeps one per group") {
    val pairs = Similarity.semDedupIvf(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assume(pairs.nonEmpty, "fixture must produce semantic-dup pairs")
    // independent union-find over the collected pair list
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val truth = members.map(m => m -> members.filter(x => find(x) == find(m)).min).toMap
    val out = Similarity.semDedupApply(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val n = Tables.embeddings(spark, sf).count()
    assert(out.size == n, "one row per corpus vector")
    out.foreach { case (id, (canon, action)) =>
      assert(canon == truth.getOrElse(id, id), s"vec $id canonical")
      assert(action == (if (canon == id) "keep" else "drop"), s"vec $id action")
    }
    // exactly one keep per duplicate group, and all singletons keep
    assert(out.count(_._2._2 == "keep") == n - members.length + truth.values.toSet.size)
  }

  test("auto-K formulas scale ∝ n and the auto entries match explicit K") {
    import Similarity.{semDedupAutoK, nearDupAutoK}
    // floors at the spec-corpus constants; K ∝ n for clusters (q118),
    // K ∝ √n for cells (q27's balanced assignment-vs-pairs sizing)
    assert(semDedupAutoK(500) == 8 && nearDupAutoK(500) == 64)
    assert(semDedupAutoK(1L << 20) == (1L << 20) / 128 &&
      nearDupAutoK(1L << 20) == 2 * 1024)
    assert(semDedupAutoK(10L * (1 << 20)) == 10 * semDedupAutoK(1 << 20))
    // the declared (auto) entries produce exactly the explicit-K result
    val n = graft.Tables.embeddings(spark, sf).count()
    val autoSem = Similarity.semDedupAuto(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explSem = Similarity.semDedup(spark, sf, k = semDedupAutoK(n))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(autoSem == explSem)
    val autoNd = Similarity.embeddingNearDupAuto(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explNd = Similarity.embeddingNearDup(spark, sf, k = nearDupAutoK(n))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(autoNd == explNd)
  }

  /** q155 ≡ q27 when the probe budget covers every cell at EVERY level
    * of the coarse hierarchy: with nprobe ≥ the occupied-cell count at
    * each level the probed union is the whole centroid set, so the
    * pruned assignment degenerates to the exact one — the KMeansSpec
    * nprobe-covers-everything law, cosine flavor. Pinned at BOTH
    * derived depths: k = 64 (the gate shape, d = 2, levels 64 → 8) and
    * an explicit k past the 2²⁰ depth-crossover boundary (d = 3, a
    * genuine two-stage descent over the occupied prefix of the
    * 500-vector corpus); nprobe ≥ the occupied-cell count (≤ corpus
    * size) covers every level without a corpus-sized TopKAgg buffer. */
  test("q155 with a covering probe budget equals the exact-assignment q27 form") {
    assert(Similarity.ivfLevelSizes(64) == Seq(8), "gate shape must be depth 2")
    assertSameRows(
      Similarity.embeddingNearDupIvfK(spark, sf, k = 64, nAssign = 2,
        minCos = 0.4, nprobe = 64),
      Similarity.embeddingNearDup(spark, sf, k = 64))
    val k3 = (1 << 20) + 1
    assert(Similarity.ivfLevelSizes(k3).length == 2, "law must also run at depth 3")
    assertSameRows(
      Similarity.embeddingNearDupIvfK(spark, sf, k = k3, nAssign = 2,
        minCos = 0.4, nprobe = 600),
      Similarity.embeddingNearDup(spark, sf, k = k3))
  }

  /** r20 (VERDICT r19 item 5): the level-0 filing stage scores K²/b
    * cosines directly — super-linear in K. Under the auto-K cap it is
    * bounded at ~1.4× the assignment term; PAST the cap it grows
    * without bound, so the library refuses loudly with the shard-bound
    * guidance instead of planning it. The boundary is sharp: the cap
    * itself builds, one past it throws. */
  test("q155 refuses k past MaxAutoIvfK — the filing term's loud guard") {
    import Similarity.MaxAutoIvfK
    // at the cap: plan construction succeeds (no execution — building
    // the 2²³-centroid plan is metadata-only until an action runs)
    Similarity.embeddingNearDupIvfK(spark, sf, k = MaxAutoIvfK,
      nAssign = 2, minCos = 0.4, nprobe = 3)
    val e = intercept[IllegalArgumentException] {
      Similarity.embeddingNearDupIvfK(spark, sf, k = MaxAutoIvfK + 1,
        nAssign = 2, minCos = 0.4, nprobe = 3)
    }
    assert(e.getMessage.contains("filing") && e.getMessage.contains("shard"),
      s"the refusal must name the filing term and the shard path: ${e.getMessage}")
    // and the auto-K path can never reach the guard: the derivation
    // clamps at the same constant for any corpus size
    assert(Similarity.nearDupIvfAutoK(Long.MaxValue) == MaxAutoIvfK)
  }

  /** The hierarchy-shape formula behind q155's assignment: depth
    * d = smallest ≥ 2 with K ≤ (2¹⁰)^d — the crossover the r13 sf100
    * A/B measured (724 s at d = 3 vs 457 s at d = 2 for K = 125 000:
    * an extra level's Θ(n) re-shuffle of the vector frame outweighs
    * its dot savings until √K ~ 10³; §8.3 r13 note) — branching b =
    * min integer with b^d ≥ K, level i = ⌈K/bⁱ⌉, so per-vector probe
    * work is O(d·K^(1/d)) in the regime where dots actually dominate
    * and the flat √K probe elsewhere. */
  test("q155 level sizes: auto depth, equal fanout, boundary Ks") {
    import Similarity.ivfLevelSizes
    assert(ivfLevelSizes(16) == Seq(4))              // tiny k: d=2, b=4
    assert(ivfLevelSizes(64) == Seq(8))              // gate corpus: d=2, b=8
    assert(ivfLevelSizes(125) == Seq(11))            // sf0.1: K=125, b=12
    assert(ivfLevelSizes(1250) == Seq(35))           // sf1: d=2, b=36
    assert(ivfLevelSizes(12500) == Seq(112))         // sf10: d=2, b=112
    assert(ivfLevelSizes(125000) == Seq(354))        // sf100: d=2, b=354
    assert(ivfLevelSizes(1 << 20) == Seq(1024))      // d=2 ceiling: b=1024
    assert(ivfLevelSizes((1 << 20) + 1).length == 2) // d jumps to 3, b=102
    assert(ivfLevelSizes(1 << 30).length == 2)       // d=3 ceiling
    assert(ivfLevelSizes(Similarity.MaxAutoIvfK).length == 2) // K=2²³: d=3, b=204
    // the top level stays ≲ b ≤ 128-ish and every size is ⌈K/bⁱ⌉
    Seq(64, 125, 12500, 125000, Similarity.MaxAutoIvfK).foreach { k =>
      val s = ivfLevelSizes(k)
      assert(s.head < k && s.last <= s.head, s"sizes must descend for k=$k")
      assert(s.zip(s.tail).forall { case (a, b) => b < a }, s"strictly descending for k=$k")
    }
  }

  /** The q155 deployment contract at default knobs: precision is total
    * (every emitted pair is a true ≥ τ near-dup with its EXACT cosine —
    * pruning can only drop candidates, never corrupt scores), and the
    * recall trade vs q27's exact assignment is bounded on the spec
    * corpus. 0.4 is the measured floor on this nearly-unclustered
    * synthetic data (10/22 at the default nprobe=3 beam through the
    * depth-3 hierarchy 64→16→4 on sf0.001 — the same 10/22 the
    * round-12 depth-2 form measured at nprobe=2, at comparable
    * per-vector cost; nprobe=2 at depth 3 cuts to 7/22, which is why
    * the default widened; a covering probe recovers 22/22 per the law
    * above) — real near-dup corpora cluster far more tightly, but the
    * spec pins what THIS fixture guarantees. */
  test("q155 precision total, exact cosines, recall floor vs q27") {
    val v = Similarity.scaled(spark, sf)
    val a = v.select(col("vec_id").as("a_id"), col("ai").as("q_ai"), col("n2").as("a_n2"))
    val b = v.select(col("vec_id").as("b_id"), col("ai"), col("n2").as("b_n2"))
    val exact = a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", expr(dot).cast("double") /
        (sqrt(col("a_n2").cast("double")) * sqrt(col("b_n2").cast("double"))))
      .filter(col("cos") >= 0.4)
      .select("a_id", "b_id", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = Similarity.embeddingNearDupIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(got.nonEmpty, "fixture must produce near-dup pairs")
    got.foreach { case (pair, cos) =>
      assert(exact.get(pair).contains(cos),
        s"pair $pair must carry the exact all-pairs cosine")
    }
    val q27 = Similarity.embeddingNearDupAuto(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got.map(_._1).toSet & q27).size.toDouble / q27.size
    info(f"q155 recall vs q27 at sf0.001: ${(got.map(_._1).toSet & q27).size}/${q27.size} = $recall%.3f")
    assert(recall >= 0.4, s"q155 recall vs q27 $recall below the 0.4 floor")
  }

  test("q159 embedding dedup apply: canonical = min of transitive closure, keeps one per group") {
    val pairs = Similarity.embeddingNearDupIvf(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assume(pairs.nonEmpty, "fixture must produce near-dup pairs")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val truth = members.map(m => m -> members.filter(x => find(x) == find(m)).min).toMap
    val out = Similarity.embeddingNearDupApply(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val n = Tables.embeddings(spark, sf).count()
    assert(out.size == n, "one row per corpus vector")
    out.foreach { case (id, (canon, action)) =>
      assert(canon == truth.getOrElse(id, id), s"vec $id canonical")
      assert(action == (if (canon == id) "keep" else "drop"), s"vec $id action")
    }
    assert(out.count(_._2._2 == "keep") == n - members.length + truth.values.toSet.size)
  }

  test("q155 auto-K pins cell size ∝ corpus and the auto entry matches explicit K") {
    import Similarity.nearDupIvfAutoK
    // floor at the spec-corpus constant; K = n/16 keeps 2n/K = 32
    assert(nearDupIvfAutoK(500) == 64)
    assert(nearDupIvfAutoK(1L << 20) == (1L << 20) / 16)
    assert(nearDupIvfAutoK(10L * (1 << 20)) == 10 * nearDupIvfAutoK(1 << 20))
    // the broadcastability ceiling: K clamps at MaxAutoIvfK exactly at
    // n = 16·2²³ and stays there — no Int wrap at any corpus size
    assert(nearDupIvfAutoK(16L * Similarity.MaxAutoIvfK) == Similarity.MaxAutoIvfK)
    assert(nearDupIvfAutoK(16L * Similarity.MaxAutoIvfK + 16) == Similarity.MaxAutoIvfK)
    assert(nearDupIvfAutoK(40_000_000_000L) == Similarity.MaxAutoIvfK,
      "n past the old Int-wrap point must clamp, not wrap")
    assert(nearDupIvfAutoK(Long.MaxValue) == Similarity.MaxAutoIvfK)
    val n = graft.Tables.embeddings(spark, sf).count()
    assertSameRows(
      Similarity.embeddingNearDupIvf(spark, sf),
      Similarity.embeddingNearDupIvfK(spark, sf, k = nearDupIvfAutoK(n),
        nAssign = 2, minCos = 0.4, nprobe = 3))
  }

  test("q163 margin mining equals the window-function reimplementation") {
    // the candidate frame with ALL cosines is q27 at minCos = -1 (cos ≥ -1
    // always holds) — same cells, same pairs, no threshold
    val scored = Similarity.embeddingNearDup(spark, sf, minCos = -1.0)
    val directed = scored.select(col("a_id").as("x"), col("b_id").as("y"), col("cos"))
      .unionByName(scored.select(col("b_id").as("x"), col("a_id").as("y"), col("cos")))
    val ranked = directed.withColumn("rn", row_number().over(
        Window.partitionBy(col("x")).orderBy(desc("cos"), asc("y"))))
      .filter(col("rn") <= 4)
    // denominator summed in the same desc-cos order as the TopKAgg buffer
    // (negate → asc struct sort → negate back; IEEE negation is exact)
    val stats = ranked.groupBy(col("x"))
      .agg(expr("sort_array(collect_list(struct(-cos AS nc, y AS y)))").as("s"))
      .select(col("x"),
        expr("-aggregate(s, 0D, (a, p) -> a + p.nc) / size(s)").as("avgk"))
    val expected = scored
      .join(ranked.select(col("x").as("a_id"), col("y").as("b_id")), Seq("a_id", "b_id"))
      .join(ranked.select(col("x").as("b_id"), col("y").as("a_id")), Seq("a_id", "b_id"))
      .join(stats.select(col("x").as("a_id"), col("avgk").as("ka")), "a_id")
      .join(stats.select(col("x").as("b_id"), col("avgk").as("kb")), "b_id")
      .withColumn("margin", round(col("cos") / ((col("ka") + col("kb")) / 2), 6))
      .filter(col("margin") >= 1.05)
      .select(col("a_id"), col("b_id"), col("cos"), col("margin"))
    val mined = Similarity.marginMining(spark, sf)
    assertSameRows(mined, expected)
    assert(mined.count() > 0, "margin mining must find pairs on the spec corpus")
  }

  test("q163 margin mining suppresses pairs a raw cosine cut keeps") {
    // every mined pair survives a plain threshold at its own cosine, but
    // not vice versa: mining must be a STRICT subset of cosine-threshold
    // pairs at the mined set's weakest cosine (the hub-suppression point)
    val mined = Similarity.marginMining(spark, sf)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val minCos = Similarity.marginMining(spark, sf).agg(min(col("cos")))
      .head.getDouble(0)
    val threshold = Similarity.embeddingNearDup(spark, sf, minCos = minCos)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mined.subsetOf(threshold), "mined pairs are candidate pairs above the cut")
    assert(threshold.size > mined.size,
      s"margin gate must reject some threshold pairs (thr=${threshold.size}, mined=${mined.size})")
  }

  test("q165 semantic decontam: train-only, cell-scoped recall total, cosine-exact") {
    val flagged = Similarity.semanticDecontam(spark, sf)
    assert(flagged.filter(col("t_id") % 17 === 3).count() == 0, "no eval ids in output")
    assert(flagged.count() > 0, "decontam must flag on the spec corpus")
    // independent aggregation path over the same cell assignment: per
    // train vector, hits = distinct eval partners sharing a cell at ≥ τ
    val v = Similarity.scaled(spark, sf)
    val cells = Similarity.assignCells(v, 2, Similarity.NearDupK)
      .select(col("c_id"), col("vec_id"))
    val ev = cells.filter(col("vec_id") % 17 === 3)
      .select(col("c_id"), col("vec_id").as("e_id"))
    val tr = cells.filter(col("vec_id") % 17 =!= 3)
      .select(col("c_id"), col("vec_id").as("t_id"))
    val expected = ev.join(tr, "c_id").select(col("e_id"), col("t_id")).distinct()
      .join(v.select(col("vec_id").as("e_id"), col("ai").as("q_ai"),
        col("n2").as("e_n2")), "e_id")
      .join(v.select(col("vec_id").as("t_id"), col("ai"),
        col("n2").as("t_n2")), "t_id")
      .withColumn("cos", expr("dot_long(q_ai, ai)").cast("double") /
        (sqrt(col("e_n2").cast("double")) * sqrt(col("t_n2").cast("double"))))
      .filter(col("cos") >= 0.4)
      .groupBy(col("t_id"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("cos")).as("max_cos"))
    assertSameRows(flagged, expected)
    // pruning-only law vs ALL cross-side pairs: flagged hits never exceed
    // the brute-force cross-side hit count for the same vector
    val brute = v.filter(col("vec_id") % 17 === 3)
      .select(col("ai").as("q_ai"), col("n2").as("e_n2"))
      .crossJoin(v.filter(col("vec_id") % 17 =!= 3)
        .select(col("vec_id").as("t_id"), col("ai"), col("n2").as("t_n2")))
      .withColumn("cos", expr("dot_long(q_ai, ai)").cast("double") /
        (sqrt(col("e_n2").cast("double")) * sqrt(col("t_n2").cast("double"))))
      .filter(col("cos") >= 0.4)
      .groupBy(col("t_id")).agg(count(lit(1)).as("bn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    flagged.collect().foreach { r =>
      assert(r.getLong(1) <= brute(r.getLong(0)),
        s"cell scoping may only PRUNE cross-side pairs (t_id=${r.getLong(0)})")
    }
  }

  test("q178 label margins match a driver-side centroid recompute") {
    val vecs = Similarity.scaled(spark, sf)
      .select(col("vec_id"), col("label"), col("ai")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))
      .filter(v => v._3.map(x => x * x).sum > 0)
    val byLabel = vecs.groupBy(_._2)
    val cents = byLabel.view.mapValues { vs =>
      val n = vs.length
      (0 until 64).map(j => vs.map(_._3(j)).sum.toDouble / n).toArray
    }.toMap
    def cos(a: Array[Long], c: Array[Double]): Double = {
      val dot = (0 until 64).map(i => math.round(a(i) * c(i))).sum
      val c2 = c.map(x => math.round(x * x)).sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) * math.sqrt(c2.toDouble))
    }
    val margins = vecs.map { case (_, lbl, a) =>
      val own = cos(a, cents(lbl))
      val other = cents.filter(_._1 != lbl).values.map(c => cos(a, c)).max
      lbl -> math.round((own - other) * 1e6)
    }
    val exp = margins.groupBy(_._1).view.mapValues { ms =>
      (ms.length.toLong,
        BigDecimal(ms.map(_._2).sum.toDouble / ms.length / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        ms.count(_._2 < 0).toLong)
    }.toMap
    val got = Similarity.labelMargins(spark, sf).collect()
    assert(got.length == exp.size)
    got.foreach { r =>
      val (n, mm, mis) = exp(r.getAs[Int]("label"))
      assert(r.getAs[Long]("n_vecs") == n)
      assert(math.abs(r.getAs[Double]("mean_margin") - mm) < 1e-9,
        s"label ${r.getAs[Int]("label")}: ${r.getAs[Double]("mean_margin")} vs $mm")
      assert(r.getAs[Long]("n_misassigned") == mis)
    }
  }

  test("q179 matryoshka mass: monotone in prefix length, exact at d=64") {
    val got = Similarity.matryoshkaMass(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (m8, m16, m32) = (r.getAs[Double]("mass8"),
        r.getAs[Double]("mass16"), r.getAs[Double]("mass32"))
      // prefix L2 mass grows with the prefix and never exceeds 1
      assert(m8 > 0 && m8 <= m16 + 1e-9 && m16 <= m32 + 1e-9 && m32 <= 1.0 + 1e-9,
        s"label ${r.getAs[Int]("label")}: $m8/$m16/$m32")
    }
    // spot-exact: one label's mass8 against a direct recompute
    val vecs = Similarity.scaled(spark, sf)
      .select(col("label"), col("ai")).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .filter(_._2.map(x => x * x).sum > 0)
    val lbl = vecs.head._1
    val fps = vecs.filter(_._1 == lbl).map { case (_, a) =>
      math.round(math.sqrt(a.take(8).map(x => x * x).sum.toDouble /
        a.map(x => x * x).sum.toDouble) * 1e6)
    }
    val exp = BigDecimal(fps.sum.toDouble / fps.length / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val gotLbl = got.find(_.getAs[Int]("label") == lbl).get.getAs[Double]("mass8")
    assert(math.abs(gotLbl - exp) < 1e-9, s"label $lbl: $gotLbl vs $exp")
  }

  test("q168 int8 quantization: attained code extremes and the half-step error bound") {
    val rows = Similarity.int8Quantize(spark, sf).collect()
    assert(rows.length == 64, "one row per embedding dimension")
    rows.foreach { r =>
      val dim = r.getAs[Long]("dim")
      val rng = r.getAs[Long]("mx") - r.getAs[Long]("mn")
      if (rng > 0) {
        // min/max are corpus-attained, so codes 0 and 255 must both appear
        assert(r.getAs[Long]("q_min") == 0L, s"dim $dim: q_min")
        assert(r.getAs[Long]("q_max") == 255L, s"dim $dim: q_max")
      } else {
        assert(r.getAs[Long]("q_min") == 0L && r.getAs[Long]("q_max") == 0L)
        assert(r.getAs[Long]("sum_err255") == 0L, s"constant dim $dim must be lossless")
      }
      // nearest-code law: per-element err255 ≤ rng/2 ⇒ mean ≤ rng/(2·255·1e6)
      assert(r.getAs[Double]("mean_abs_err") <= rng / 2.0 / 255e6 + 1e-12,
        s"dim $dim: mean_abs_err exceeds the half-step bound")
    }
    // exact-integer accounting: re-derive one dimension's sum_err255 brute-force
    val d0 = Similarity.scaled(spark, sf)
      .select(expr("element_at(ai, 1)").as("x")).collect().map(_.getLong(0))
    val (mn, mx) = (d0.min, d0.max)
    val rng = mx - mn
    val expSum = d0.map { x =>
      val qv = if (rng > 0) (510L * (x - mn) + rng) / (2L * rng) else 0L
      math.abs(255L * (x - mn) - qv * rng)
    }.sum
    val row0 = rows.find(_.getAs[Long]("dim") == 0L).get
    assert(row0.getAs[Long]("sum_err255") == expSum, "dim 0 exact error accounting")
    assert(row0.getAs[Long]("mn") == mn && row0.getAs[Long]("mx") == mx)
  }
}
