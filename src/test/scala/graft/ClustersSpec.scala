package graft

import graft.ops.Clusters

/** Transitive-closure properties of connected components that the oracle
  * row-compare can't articulate. */
class ClustersSpec extends SparkSpec {
  import spark.implicits._

  test("chains merge into one component labeled by the minimum node") {
    // 1-2-3 chain, 10-11 pair, isolated-by-edge 20-20-ish pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L)).toDF("a_id", "b_id")
    val got = Clusters.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("a length-64 path converges in O(log n) star rounds, not O(diameter)") {
    // the min-label round-2 algorithm needed ~64 rounds here; the
    // large-star/small-star contraction must stay logarithmic
    val path = (1L until 65L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (labels, rounds) = Clusters.connectedComponentsWithRounds(path)
    assert(rounds <= 8, s"path-graph convergence took $rounds rounds (> 8)")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 65L).map(_ -> 1L).toMap, "single component rooted at 1")
  }

  test("star rounds handle disjoint components and an empty edge list") {
    val (empty, r0) = Clusters.connectedComponentsWithRounds(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"))
    assert(empty.isEmpty && r0 == 0)
    // two components given in "wrong" orientation + duplicate edges
    val e = Seq((5L, 3L), (3L, 5L), (5L, 4L), (9L, 8L)).toDF("a_id", "b_id")
    val got = Clusters.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 3L, 4L -> 3L, 5L -> 3L, 8L -> 8L, 9L -> 8L))
  }

  test("every near-dup pair lands in one cluster; canonical is the min member") {
    val pairs = graft.ops.Dedup.jaccardNearDup(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val comp = Clusters.dedupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"pair ($a,$b) split across clusters")
    }
    comp.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"component $c not labeled by its min member")
    }
  }

  test("q143 leakage-safe split: no near-dup pair ever crosses the train/eval wall") {
    val out = Clusters.leakageSafeSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val n = Tables.documents(spark, sf).count()
    assert(out.size == n, "one row per document")
    // the leakage property itself: both ends of every near-dup pair
    // land on the same side
    val pairs = graft.ops.Dedup.jaccardNearDup(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assume(pairs.nonEmpty, "fixture must have near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(out(a)._2 == out(b)._2, s"pair ($a,$b) crosses the split")
    }
    // the split is the canonical's q50-style draw, members inherit it
    out.foreach { case (id, (canon, split)) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(canon.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(split == (if (hex < "e6") "train" else "eval"), s"doc $id draw")
      assert(out(canon)._2 == split, s"doc $id disagrees with canonical $canon")
    }
    // both sides populated (90/10 draw on the spec corpus)
    val splits = out.values.map(_._2).toSet
    assert(splits == Set("train", "eval"))
  }

  test("q129 dedup apply keeps exactly the best-quality member per cluster") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.Clusters.dedupApply(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(rows.nonEmpty)
    // membership matches q54's clusters exactly
    val clusters = graft.ops.Clusters.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == clusters)
    rows.groupBy(_._2).foreach { case (c, members) =>
      val keeps = members.filter(_._4 == "keep")
      assert(keeps.length == 1, s"cluster $c keeps ${keeps.length}")
      val keep = keeps.head
      // the keep dominates: strictly better quality, or equal with lower id
      members.filter(_._4 == "drop").foreach { d =>
        assert(d._3 < keep._3 || (d._3 == keep._3 && d._1 > keep._1),
          s"cluster $c: drop $d beats keep $keep")
      }
    }
  }

  test("q129 null-quality members lose, and an all-null cluster still keeps one (ADVICE r18)") {
    // quality is NULL when q29's ratio denominators are 0; the argmax
    // must match the oracle's row_number (DuckDB NULLS LAST under
    // quality DESC): a null-quality member never beats a real one, and
    // an all-null cluster keeps its lowest doc_id — never zero keeps.
    val member = Seq[(Long, Long, java.lang.Double)](
      // mixed cluster: null must lose to the worst real quality
      (1L, 1L, java.lang.Double.valueOf(0.2)), (2L, 1L, null),
      (3L, 1L, java.lang.Double.valueOf(0.9)),
      // all-null cluster: exactly one keep, the lowest doc_id
      (11L, 10L, null), (12L, 10L, null), (10L, 10L, null)
    ).toDF("doc_id", "canonical_id", "quality")
    val got = graft.ops.Clusters.dedupApplyOf(member).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == Map(1L -> "drop", 2L -> "drop", 3L -> "keep",
      10L -> "keep", 11L -> "drop", 12L -> "drop"), s"got $got")
  }
}
