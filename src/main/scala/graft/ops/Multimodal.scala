package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed output of the per-document media-metadata extraction. */
case class MediaMeta(
    doc_id: Long,
    byte_len: Int,
    content_md5: String,
    format: String,
    head_codes: Seq[Int],
    n_frames: Int)

/** Typed output of the decode → resize → feature-extract stub: target
  * dimensions plus a 16-bin byte histogram standing in for an image
  * feature vector. */
case class MediaFeatures(
    doc_id: Long,
    out_w: Int,
    out_h: Int,
    hist: Seq[Long])

/** Multimodal-column plumbing (SURVEY.md north-star): treat media as
  * opaque `binary` payloads + typed metadata, with decode / feature
  * extraction as partition-wise batch processing.
  *
  * The Spark-side plumbing is real — binary column, explicit output
  * schema via a case-class Encoder, `mapPartitions` with per-partition
  * "decoder" init (the pattern a real codec/model handle needs: init once
  * per partition, reuse across rows, never serialize to the driver). The
  * decode itself is a STUB (this container has no image/audio libs): a
  * deterministic function of the bytes, which keeps the whole pipeline
  * oracle-checkable end-to-end.
  */
object Multimodal {

  /** Deterministic fake "decoder" — stands in for a jpeg/png decode +
    * feature extraction. Real implementation would decode `payload` here. */
  private final class StubDecoder {
    // per-partition init (constructor runs once per partition, not per row)
    private val md = java.security.MessageDigest.getInstance("MD5")
    def decode(docId: Long, payload: Array[Byte]): MediaMeta = {
      md.reset()
      val hex = md.digest(payload).map("%02x".format(_)).mkString
      val fmt = (payload.length % 3) match {
        case 0 => "jpeg"
        case 1 => "png"
        case _ => "webp"
      }
      MediaMeta(
        doc_id = docId,
        byte_len = payload.length,
        content_md5 = hex,
        format = fmt,
        head_codes = payload.take(4).map(b => (b & 0xff)).toSeq,
        n_frames = payload.length / 32)
    }
  }

  /** documents.text reinterpreted as an opaque binary media payload. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** Partition-wise decode: one StubDecoder per partition (the expensive
    * init happens #partitions times, not #rows times), rows streamed
    * through it — the exact shape a Pandas-UDF/mapInPandas media pipeline
    * has, in typed Scala form. */
  def mediaMeta(spark: SparkSession, dir: String): Dataset[MediaMeta] = {
    import spark.implicits._
    mediaTable(spark, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val decoder = new StubDecoder // per-partition init
        rows.map { case (id, payload) => decoder.decode(id, payload) }
      }
  }

  /** Driver-compared face of mediaMeta: array outputs crash the driver's
    * pandas sort, so head_codes is serialized to a comma-joined string. */
  def mediaMetaDf(spark: SparkSession, dir: String): DataFrame =
    mediaMeta(spark, dir).toDF()
      .withColumn("head_codes",
        expr("array_join(transform(head_codes, x -> CAST(x AS STRING)), ',')"))

  /** The decode → resize → feature-extract half of the multimodal row
    * (q32 covers metadata, q33 frame sampling): one extractor per
    * partition streaming payload batches through — where a real pipeline
    * would run jpeg decode + bilinear resize + a vision-model forward
    * pass, the stub computes deterministic resize targets and a 16-bin
    * byte histogram "feature vector", keeping schema, partitioning, and
    * batch shape real and the output oracle-checkable. */
  private final class StubFeatureExtractor {
    // per-partition init — the model/codec handle slot
    def extract(docId: Long, payload: Array[Byte]): MediaFeatures = {
      val hist = new Array[Long](16)
      payload.foreach(b => hist((b & 0xff) % 16) += 1)
      MediaFeatures(
        doc_id = docId,
        out_w = 64 + payload.length % 64,
        out_h = 32 + payload.length % 32,
        hist = hist.toSeq)
    }
  }

  /** q77: partition-wise feature extraction over the binary media column;
    * hist serializes to a comma-joined string at the compare boundary
    * (arrays crash the driver's pandas sort). */
  def mediaFeaturesDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val extractor = new StubFeatureExtractor // per-partition init
        rows.map { case (id, payload) => extractor.extract(id, payload) }
      }
      .toDF()
      .withColumn("hist",
        expr("array_join(transform(hist, x -> CAST(x AS STRING)), ',')"))
  }

  /** Frame sampling stub: every 32-byte "frame" at a fixed stride,
    * emitted one row per sampled frame with its offset — the
    * explode-shaped half of a video pipeline. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("doc_id"), col("payload"),
        expr("octet_length(payload)").as("byte_len"))
      .select(col("doc_id"),
        explode(expr(
          """CASE WHEN byte_len >= 32
            |  THEN transform(sequence(0, CAST(byte_len / 32 AS INT) - 1),
            |         i -> struct(i AS frame_idx,
            |                     md5(substring(payload, i*32 + 1, 32)) AS frame_md5))
            |  ELSE array() END""".stripMargin)).as("f"))
      .select(col("doc_id"), col("f.frame_idx"), col("f.frame_md5"))

  /** q148: perceptual-hash near-duplicate detection over the media
    * payloads — the multimodal counterpart of q24's text SimHash
    * (dHash lineage: Krawetz's difference hash — row-adjacent gradient
    * SIGNS survive resizing/re-encoding, so near-identical images
    * collide; here the 1-D analogue over the payload stream). The
    * payload is split into 57 equal segments ("pixels"), each reduced
    * to its byte-sum intensity; bit s of the 56-bit signature is the
    * gradient sign I(s) > I(s+1). A small local edit perturbs one or
    * two segment sums and flips at most a few gradient signs, so true
    * near-dups land within Hamming ≤ 3 while unrelated payloads are
    * ~random 56-bit strings (collision odds ≈ C(56,≤3)/2⁵⁶ ≈ 10⁻¹²).
    *
    * Pairs come from [[Dedup.hammingBandPairs]] — the identical q24
    * machinery at 7-bit chunks (56 = 8×7), same C(8,4) pigeonhole
    * exactness for Hamming ≤ 3. Engine-portable by construction:
    * intensities are ascii-code sums both engines compute identically,
    * so the DuckDB oracle derives bit-identical signatures and brute-
    * force-verifies the banded result (the q24 oracle convention — the
    * banding exactness theorem IS what the gate checks).
    *
    * Scale shape: signatures are one map-side pass (no shuffle); the
    * pair stage inherits q24's distinct-sig banding bounds. A real
    * image dHash would compute the 9×8 grayscale grid in the
    * [[mediaFeaturesDf]] per-partition decoder; the signature-to-pairs
    * half — the distributed part — is exactly this code path. */
  private[graft] val DhashSegments = 57

  /** (doc_id, ints) — the 57 per-segment ascii-sum intensities of each
    * payload, one map-side pass (shared by batch q148 and the q158
    * streaming signature store, whose state folds these by element-wise
    * sum). Segment s covers 1-based char positions
    * [1 + s·len/57, (s+1)·len/57]; empty segments (len < 57) sum to 0.
    *
    * r22: the map is [[graft.functions.AsciiSegmentSums]] — one codegen'd
    * O(len) pass per payload. The prior higher-order-function spelling
    * (57 interpreted `aggregate` lambdas of `ascii(substring(text,i,1))`)
    * was O(len²) per document — `substring(text, i, 1)` re-walks the
    * UTF-8 stream to find code point i — and was the measured
    * scale-driving term of q148 at sf10 (VERDICT r21 item 3).
    * MultimodalSpec pins value equivalence against the HOF spelling,
    * including multi-byte/supplementary and empty/short inputs. */
  private[graft] def intensitiesOf(docs: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    // coalesce: the HOF spelling mapped NULL text to all-zero segments
    // (its CASE predicate nulls out and falls to ELSE 0), and an EMPTY
    // string maps to the same zeros — so null→'' preserves the value
    // semantics exactly (the spec law pins it) while the expression
    // itself keeps the conventional null→null contract
    docs.select(col("doc_id"),
      expr(s"ascii_seg_sums(coalesce(text, ''), $DhashSegments)").as("ints"))
  }

  /** Gradient-sign bit packing of an `ints` column into the 56-bit
    * BIGINT signature (top 8 bits clear) — the other shared half. */
  private[graft] val packSigExpr: String = {
    val n = DhashSegments
    s"""aggregate(sequence(0, ${n - 2}), CAST(0 AS BIGINT), (acc, s) ->
       |  acc + CASE WHEN ints[s] > ints[s + 1]
       |    THEN shiftleft(CAST(1 AS BIGINT), ${n - 2} - s)
       |    ELSE CAST(0 AS BIGINT) END)""".stripMargin
  }

  /** doc_id → 56-bit dHash of the payload byte stream. */
  private[graft] def dhashSignatures(spark: SparkSession, dir: String): DataFrame =
    intensitiesOf(Tables.documents(spark, dir))
      .select(col("doc_id"), expr(packSigExpr).as("sig"))

  /** q148: (a_id, b_id, hamming) media near-dup pairs at Hamming ≤ 3. */
  def mediaNearDup(spark: SparkSession, dir: String,
                   maxHamming: Int = 3): DataFrame =
    Dedup.hammingBandPairs(dhashSignatures(spark, dir),
      chunkBits = 7, maxHamming = maxHamming)

  /** The q148 oracle's signature chain (DuckDB): same 57 ascii-sum
    * intensities and gradient-sign packing, 1-based lists. */
  private def dhashOracle: String = {
    val n = DhashSegments
    s"""d AS (SELECT doc_id, text, length(text) AS len FROM documents),
       |seg AS MATERIALIZED (
       |  SELECT doc_id, list_transform(range(0, $n), s -> coalesce(list_sum(
       |      list_transform(range(1 + (s * len) // $n, ((s + 1) * len) // $n + 1),
       |        i -> ascii(substr(text, CAST(i AS INT), 1)))), 0)) AS ints
       |  FROM d),
       |sig AS MATERIALIZED (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(0, ${n - 1}),
       |      s -> CASE WHEN ints[CAST(s + 1 AS INT)] > ints[CAST(s + 2 AS INT)]
       |             THEN (CAST(1 AS BIGINT) << CAST(${n - 2} - s AS INT))
       |             ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
       |  FROM seg)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q148_media_neardup" ->
      s"""WITH $dhashOracle
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin,
    "q32_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS byte_len,
        |  md5(text) AS content_md5,
        |  CASE octet_length(CAST(text AS BLOB)) % 3
        |    WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format,
        |  array_to_string(list_transform(range(0, 4),
        |    i -> CAST(ascii(substr(text, CAST(i + 1 AS INT), 1)) AS VARCHAR)), ',') AS head_codes,
        |  CAST(octet_length(CAST(text AS BLOB)) // 32 AS INT) AS n_frames
        |FROM documents""".stripMargin,
    // q77: the corpus is pure single-byte ASCII (verified), so DuckDB's
    // char-indexed ascii(substr(..)) equals the Spark-side byte loop; the
    // index range derives from the ACTUAL max document length, so larger
    // regenerated fixtures cannot silently truncate the histogram
    "q77_media_features" ->
      """WITH b AS (
        |  SELECT doc_id, ascii(substr(text, CAST(i + 1 AS INT), 1)) % 16 AS bin
        |  FROM documents, (SELECT unnest(range(0,
        |    (SELECT max(octet_length(CAST(text AS BLOB))) FROM documents))) AS i)
        |  WHERE i < octet_length(CAST(text AS BLOB))),
        |h AS (SELECT doc_id, bin, count(*) AS n FROM b GROUP BY 1, 2),
        |grid AS (SELECT doc_id, g AS bin FROM documents, (SELECT unnest(range(0, 16)) AS g)),
        |filled AS (
        |  SELECT grid.doc_id, grid.bin, coalesce(h.n, 0) AS n
        |  FROM grid LEFT JOIN h ON h.doc_id = grid.doc_id AND h.bin = grid.bin),
        |hists AS (
        |  SELECT doc_id, string_agg(CAST(n AS VARCHAR), ',' ORDER BY bin) AS hist
        |  FROM filled GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(64 + octet_length(CAST(text AS BLOB)) % 64 AS INT) AS out_w,
        |  CAST(32 + octet_length(CAST(text AS BLOB)) % 32 AS INT) AS out_h,
        |  hists.hist
        |FROM documents d JOIN hists USING (doc_id)""".stripMargin,
    "q33_frame_sample" ->
      """SELECT doc_id, f AS frame_idx,
        |  md5(substr(text, CAST(f * 32 + 1 AS INT), 32)) AS frame_md5
        |FROM documents, (SELECT unnest(range(0, 100)) AS f)
        |WHERE f < octet_length(CAST(text AS BLOB)) // 32""".stripMargin,
  )
}
