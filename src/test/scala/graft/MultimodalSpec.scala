package graft

import org.apache.spark.sql.functions._

/** q148 media near-dup: the dHash signature semantics pinned against an
  * independent in-memory reference, the banded pair join proven equal to
  * brute force, and the planted-fixture contract the round-10 verdict
  * asked for — a planted near-dup is FOUND, a distinct payload is
  * REJECTED. */
class MultimodalSpec extends SparkSpec {

  /** Independent reference dHash — same definition (57 ascii-sum segment
    * intensities, 56 gradient-sign bits), plain Scala. */
  private def refDhash(text: String): Long = {
    val n = 57
    val len = text.length
    val ints = (0 until n).map { s =>
      val lo = 1 + s * len / n
      val hi = (s + 1) * len / n
      if (hi >= lo) (lo to hi).map(i => text.charAt(i - 1).toInt.toLong).sum
      else 0L
    }
    (0 until n - 1).foldLeft(0L) { (acc, s) =>
      acc + (if (ints(s) > ints(s + 1)) 1L << (n - 2 - s) else 0L)
    }
  }

  private def hamming(a: Long, b: Long): Int =
    java.lang.Long.bitCount(a ^ b)

  /** The retired higher-order-function spelling of
    * `Multimodal.intensitiesOf`'s map (57 interpreted `aggregate`
    * lambdas over `ascii(substring(text, i, 1))`) — the differential
    * reference for the ascii_seg_sums equivalence law below. */
  private def intensitiesHofExpr: String = {
    val n = graft.ops.Multimodal.DhashSegments
    s"""transform(sequence(0, $n - 1), s ->
       |  CASE WHEN ((s + 1) * len) div $n >= 1 + (s * len) div $n
       |    THEN aggregate(
       |           sequence(1 + (s * len) div $n, ((s + 1) * len) div $n),
       |           CAST(0 AS BIGINT),
       |           (acc, i) -> acc + ascii(substring(text, i, 1)))
       |    ELSE CAST(0 AS BIGINT) END)""".stripMargin
  }

  /** The planted corpus: base text, a near-dup (one word uppercased —
    * one segment's intensity drops by 32/char, flipping exactly the
    * adjacent gradient signs; reference Hamming = 2), an exact copy
    * (Hamming 0, the within-group path), and a structurally different
    * payload (reference Hamming 29 — must be rejected). */
  private val baseText =
    "the quick brown fox jumps over the lazy dog and then " +
    "the slow white cat naps under the warm red roof while " +
    "a small green bird sings beside the old stone wall at dusk " +
    "as rivers run quietly past the sleeping town"
  private val nearText = baseText.replace("quick", "QUICK")
  private val farText =
    "zzz qqq www all caps NOISE 1234567890 totally different payload " +
    "with numbers 999 888 777 and symbols making a very different " +
    "intensity profile across every single segment of the stream " +
    "nothing here resembles the original text at all truly"
  private val fixture = Seq(
    1L -> baseText, 2L -> nearText, 3L -> farText, 4L -> baseText)

  private def fixtureDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("media_neardup").toString
    fixture.map { case (id, t) => (id, t, "en", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q148 signatures equal the independent reference dHash (corpus + fixture)") {
    val dir = fixtureDir
    for (d <- Seq(dir, sf)) {
      val got = graft.ops.Multimodal.dhashSignatures(spark, d)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val texts = Tables.documents(spark, d)
        .select(col("doc_id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.keySet == texts.keySet)
      texts.foreach { case (id, t) =>
        assert(got(id) == refDhash(t), s"doc $id signature mismatch in $d")
        assert((got(id) >> 56) == 0L, s"doc $id: top 8 bits must be clear")
      }
    }
  }

  test("q148 planted near-dup found, exact copy found at 0, distinct payload rejected") {
    val dir = fixtureDir
    // fixture preconditions, stated against the reference — the test
    // documents WHY each pair is (not) expected
    assert(hamming(refDhash(baseText), refDhash(nearText)) == 2)
    assert(hamming(refDhash(baseText), refDhash(farText)) > 3)
    val got = graft.ops.Multimodal.mediaNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == Map(
      (1L, 2L) -> 2, // planted near-dup: one uppercased word
      (2L, 4L) -> 2, // ...and vs the exact copy of base
      (1L, 4L) -> 0  // exact copy, the within-group Hamming-0 path
    ), s"pair set must be exactly the planted expectations: $got")
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "the distinct payload must appear in no pair")
  }

  test("ascii_seg_sums equals the retired HOF intensity map (incl. multi-byte)") {
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    // adversarial lengths and encodings: empty, single char, len < 57,
    // len = 57 ± 1, multi-byte BMP (é, CJK), supplementary plane (😀 —
    // ascii() returns the full code point, and length() counts code
    // points, so segment boundaries shift vs UTF-16 indexing), and the
    // planted fixture texts
    val texts = Seq(
      "", "a", "ab", "é", "😀", "aé😀汉z", "a" * 56, "b" * 57, "c" * 58,
      "héllo wörld " * 10, "汉字文本" * 30, "mix😀ed 平仮名 and ascii " * 7,
      baseText, nearText, farText)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("len", length(col("text")))
      .withColumn("fast", expr(
        s"ascii_seg_sums(text, ${graft.ops.Multimodal.DhashSegments})"))
      .withColumn("hof", expr(intensitiesHofExpr))
    val rows = df.select(col("doc_id"), col("fast"), col("hof")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"doc ${r.getLong(0)}: fast=${r.getSeq[Long](1)} hof=${r.getSeq[Long](2)}")
    }
    // null text: the HOF's CASE predicate nulls out and falls to ELSE 0
    // (all-zero segments), and the SHIPPED path (coalesce(text, '')) must
    // reproduce that; the bare expression keeps null→null
    val nulls = Seq((0L, null: String)).toDF("doc_id", "text")
      .withColumn("len", length(col("text")))
      .select(expr("ascii_seg_sums(coalesce(text, ''), 57)").as("shipped"),
        expr(intensitiesHofExpr).as("hof"),
        expr("ascii_seg_sums(text, 57)").as("bare"))
      .collect().head
    assert(nulls.getSeq[Long](0) == nulls.getSeq[Long](1),
      "shipped (coalesced) path must equal the HOF on null text")
    assert(nulls.getSeq[Long](0) == Seq.fill(57)(0L))
    assert(nulls.isNullAt(2), "bare expression keeps null -> null")
  }

  test("q148 banded pairs equal brute force over all signatures (exactness theorem)") {
    val sigs = graft.ops.Multimodal.dhashSignatures(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = hamming(sa, sb) if h <= 3
    } yield (ia, ib) -> h).toMap
    val got = graft.ops.Multimodal.mediaNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == brute,
      s"banded join must equal brute force: only-banded=${(got.keySet -- brute.keySet).take(3)} only-brute=${(brute.keySet -- got.keySet).take(3)}")
  }
}
