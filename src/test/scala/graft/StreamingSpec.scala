package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Watermark + late-data semantics (SURVEY.md §2.9) on a multi-batch
  * MemoryStream — the behavior the bounded file-source queries (q34/q47)
  * structurally can't exercise: a window only emits once the watermark
  * passes it, and events arriving behind the watermark are dropped. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("tumbling window with watermark emits closed windows and drops late data") {
    val input = MemoryStream[(java.sql.Timestamp, Double)](spark)
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("n"), col("sum_value"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wm_test")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: two events in the 10:00 window, one in 10:30
      input.addData((ts(5), 1.0), (ts(10), 2.0), (ts(35), 4.0))
      q.processAllAvailable()
      // watermark after batch 1 = 10:35 - 10m = 10:25 > 10:30 window start
      // but the 10:00 window [10:00,10:30) closes only when wm >= 10:30
      assert(spark.table("wm_test").count() == 0, "no window closed yet")

      // batch 2: event at 10:55 pushes watermark to 10:45 -> closes [10:00,10:30)
      input.addData((ts(55), 8.0))
      q.processAllAvailable()
      val closed = spark.table("wm_test").collect()
      assert(closed.length == 1)
      assert(closed.head.getTimestamp(0) == ts(0) && closed.head.getLong(1) == 2L)

      // batch 3: a LATE event for the closed 10:00 window — watermark 10:45
      // is past it, so it must be dropped, not re-emitted
      input.addData((ts(1), 100.0))
      q.processAllAvailable()
      assert(spark.table("wm_test").count() == 1, "late data must not reopen a closed window")

      // batch 4: far-future event closes [10:30,11:00) WITHOUT the late row
      input.addData((ts(59).toInstant.plusSeconds(7200) |> (i => java.sql.Timestamp.from(i)), 0.0))
      q.processAllAvailable()
      val rows = spark.table("wm_test").collect().map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(rows(ts(30)) == (2L, 12.0), s"10:30 window must hold exactly the on-time events: $rows")
    } finally q.stop()
  }

  test("watermarked EventTimeTimeout sessions: timeout flushes, late events drop") {
    import graft.streaming.{SessionEvent, StatefulSessions}
    import java.time.LocalDateTime
    def t(h: Int, m: Int) = LocalDateTime.of(2024, 1, 1, h, m, 0)
    val input = MemoryStream[SessionEvent](spark)
    val q = StatefulSessions.sessionizeWatermarked(input.toDS(), "10 minutes")
      .toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wm_sessions")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: user 1 at 10:00/10:10, user 2 at 10:05 — nothing closes
      // (watermark after the batch = 10:10 − 10m = 10:00)
      input.addData(SessionEvent(1L, t(10, 0), 1.0), SessionEvent(1L, t(10, 10), 2.0),
        SessionEvent(2L, t(10, 5), 4.0))
      q.processAllAvailable()
      assert(spark.table("wm_sessions").count() == 0, "open sessions must not emit early")

      // batch 2: user 9 at 12:00 advances the watermark to 11:50 (after the
      // batch); user 1's 09:30 event is behind the CURRENT watermark
      // (10:00) and must be dropped, not merged into the open session
      input.addData(SessionEvent(9L, t(12, 0), 0.5), SessionEvent(1L, t(9, 30), 100.0))
      q.processAllAvailable()

      // batch 3: any new data triggers timeout processing at wm=11:50 —
      // both 10:xx sessions are past last+gap and must flush from state
      input.addData(SessionEvent(9L, t(12, 10), 0.5))
      q.processAllAvailable()
      val got = spark.table("wm_sessions").collect()
        .map(r => (r.getLong(2), r.getAs[LocalDateTime]("session_start"),
          r.getAs[LocalDateTime]("session_end"), r.getLong(3), r.getDouble(4))).toSet
      assert(got == Set(
        (1L, t(10, 0), t(10, 40), 2L, 3.0), // late 09:30 event NOT counted
        (2L, t(10, 5), t(10, 35), 1L, 4.0)),
        s"timeout-flushed sessions wrong: $got")
    } finally q.stop()
  }

  test("checkpointed restart resumes watermarked sessions exactly") {
    import graft.streaming.{SessionEvent, StatefulSessions}
    import org.apache.spark.sql.types._
    import java.time.LocalDateTime
    def t(h: Int, m: Int) = LocalDateTime.of(2024, 1, 1, h, m, 0)
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val src = s"$base/src"
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("value", DoubleType)))
    def append(evs: Seq[SessionEvent]): Unit =
      evs.toDS().toDF().write.mode("append").parquet(src)
    // one run leg: file source -> watermarked sessions -> parquet sink,
    // AvailableNow; the checkpoint carries source offsets, state store,
    // and watermark across restarts
    def run(out: String, ckpt: String): Unit = {
      val events = spark.readStream.schema(schema).parquet(src).as[SessionEvent]
      val q = StatefulSessions.sessionizeWatermarked(events, "10 minutes")
        .toDF().writeStream.outputMode(OutputMode.Append)
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: two open sessions (users 1, 2) — nothing closes, all state
    append(Seq(SessionEvent(1L, t(10, 0), 1.0), SessionEvent(1L, t(10, 10), 2.0),
      SessionEvent(2L, t(10, 5), 4.0)))
    run(s"$base/out_resumed", s"$base/ckpt_resumed")
    // "crash" between batches: new data lands, the query restarts from
    // the SAME checkpoint — state and watermark must recover, file 1 must
    // not reprocess
    append(Seq(SessionEvent(1L, t(11, 30), 8.0), SessionEvent(9L, t(15, 0), 0.5)))
    run(s"$base/out_resumed", s"$base/ckpt_resumed")
    // reference: one uninterrupted run over the identical source
    run(s"$base/out_ref", s"$base/ckpt_ref")
    val resumed = spark.read.parquet(s"$base/out_resumed")
    val ref = spark.read.parquet(s"$base/out_ref")
    assertSameRows(resumed, ref)
    // and both must equal the semantically-expected closed set (watermark
    // 14:50 closes everything except user 9's open 15:00 session) — a
    // bug that silently emits nothing on both legs must not pass
    val got = resumed.collect().map(r => (r.getLong(2),
      r.getAs[LocalDateTime]("session_start"), r.getAs[LocalDateTime]("session_end"),
      r.getLong(3), r.getDouble(4))).toSet
    assert(got == Set(
      (1L, t(10, 0), t(10, 40), 2L, 3.0),
      (2L, t(10, 5), t(10, 35), 1L, 4.0),
      (1L, t(11, 30), t(12, 0), 1L, 8.0)),
      s"recovered sessions wrong: $got")
  }

  test("sessionization under the RocksDB state store equals the batch result") {
    // §8.4's large-keyspace deployment claim, demonstrated: the same
    // stateful query runs unchanged on the RocksDB provider (conf scoped
    // to a cloned session) and the result still equals the batch
    // sessionization
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assertSameRows(
      graft.streaming.StatefulSessions.sessionizeStream(ss, sf),
      graft.streaming.StatefulSessions.sessionizeBatch(spark, sf))
  }

  test("stream-stream interval join emits matches and evicts expired state") {
    val clicks = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val purchases = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val c = clicks.toDF().toDF("c_user", "c_ts").withWatermark("c_ts", "10 minutes")
    val p = purchases.toDF().toDF("p_user", "p_ts").withWatermark("p_ts", "10 minutes")
    val joined = c.join(p, expr(
      "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ss_join")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: click and matching purchase arrive -> inner join emits
      clicks.addData((1L, ts(0)))
      purchases.addData((1L, ts(10)))
      q.processAllAvailable()
      assert(spark.table("ss_join").count() == 1, "on-time match must emit")

      // batch 2: advance both watermarks far past the click's join window
      // (click state is evictable once wm > c_ts + 30 min + delay)
      clicks.addData((9L, java.sql.Timestamp.valueOf("2024-01-01 13:00:00")))
      purchases.addData((9L, java.sql.Timestamp.valueOf("2024-01-01 13:00:00")))
      q.processAllAvailable()

      // batch 3: a matching purchase for the OLD click arrives behind the
      // watermark — the click's state has been evicted, so no new row
      purchases.addData((1L, ts(20)))
      q.processAllAvailable()
      assert(spark.table("ss_join").count() == 2,
        "late purchase must not match evicted click state (only the 9L self-match adds)")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits the null match only after the watermark closes the window") {
    val clicks = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val purchases = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val c = clicks.toDF().toDF("c_user", "c_ts").withWatermark("c_ts", "10 minutes")
    val p = purchases.toDF().toDF("p_user", "p_ts").withWatermark("p_ts", "10 minutes")
    val joined = c.join(p, expr(
      "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"),
      "left_outer")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ss_left_join")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: a click with no purchase — the engine must NOT emit the
      // null match yet (a matching purchase could still arrive)
      clicks.addData((1L, ts(0)))
      purchases.addData((2L, ts(5)))
      q.processAllAvailable()
      assert(spark.table("ss_left_join").filter(col("p_ts").isNull).count() == 0,
        "null match must not emit while the join window is open")

      // batch 2: both watermarks jump far past click+30min+delay — now the
      // engine KNOWS no purchase can match, and the null row must emit
      clicks.addData((8L, java.sql.Timestamp.valueOf("2024-01-01 14:00:00")))
      purchases.addData((8L, java.sql.Timestamp.valueOf("2024-01-01 14:00:00")))
      q.processAllAvailable()
      // one more batch: outer-join null emission happens when state evicts,
      // which some versions defer to the subsequent batch
      clicks.addData((8L, java.sql.Timestamp.valueOf("2024-01-01 14:30:00")))
      purchases.addData((8L, java.sql.Timestamp.valueOf("2024-01-01 14:30:00")))
      q.processAllAvailable()
      val nullRows = spark.table("ss_left_join").filter(col("p_ts").isNull).collect()
      assert(nullRows.map(_.getLong(0)).contains(1L),
        s"user 1's unmatched click must surface with a null purchase: ${nullRows.mkString}")
    } finally q.stop()
  }

  test("stream-static enrichment equals the batch join+aggregate") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamingEvents.streamStaticEnrich(spark, sf)
    val batch = Tables.events(spark, sf)
      .join(Tables.customer(spark, sf).select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
    assertSameRows(streamed, batch)
  }

  test("streaming CMS final state equals the batch sketch (q144 ≡ q141)") {
    val streamed = graft.streaming.StreamingEvents.streamCmsRegisters(spark, sf)
    val batch = graft.ops.Sketches.cmsRegisters(spark, sf)
    assert(streamed.count() > 0, "sketch must have occupied registers")
    assertSameRows(streamed, batch)
  }

  test("streaming MinHash signature store equals the batch signature table (q149)") {
    val streamed = graft.streaming.StreamingEvents.streamMinhashSignatures(spark, sf)
    assert(streamed.count() > 0)
    assertSameRows(streamed, graft.ops.Dedup.minhashSignatures(spark, sf))
  }

  test("streaming MinHash folds across micro-batches: per-file triggers, same final state") {
    // two files, maxFilesPerTrigger = 1 → the signature store must
    // re-minimize incrementally (min is commutative/idempotent), landing
    // on the batch table regardless of arrival slicing
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("stream_minhash_mb").toString
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val sig = graft.ops.Dedup.signaturesOf(graft.ops.Dedup.shinglesOf(stream))
    val name = s"mb_minhash_${System.nanoTime()}"
    val q = sig.writeStream.outputMode("complete").format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "the fold must have seen at least two non-empty micro-batches")
    try assertSameRows(spark.table(name), graft.ops.Dedup.minhashSignatures(spark, sf))
    finally spark.catalog.dropTempView(name)
  }

  test("streaming MinHash pairs equal the batch sweep over batch signatures (q149 end-to-end)") {
    val streamed = graft.streaming.StreamingEvents.streamMinhashPairs(spark, sf)
    val batch = graft.ops.Dedup.estimatedPairsOf(
      graft.ops.Dedup.minhashSignatures(spark, sf))
    assert(streamed.count() > 0, "sf0.001 plants near-dups — the sweep must find them")
    assertSameRows(streamed, batch)
  }

  test("streaming dHash signature store equals the batch signature table (q158)") {
    val streamed = graft.streaming.StreamingEvents.streamDhashSignatures(spark, sf)
    assert(streamed.count() > 0)
    assertSameRows(streamed, graft.ops.Multimodal.dhashSignatures(spark, sf))
  }

  test("streaming dHash folds across micro-batches: per-file triggers, same final state") {
    // two files, maxFilesPerTrigger = 1 → the intensity-sum state must
    // fold incrementally (element-wise sum is commutative/associative),
    // landing on the batch table regardless of arrival slicing
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("stream_dhash_mb").toString
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val sig = graft.streaming.StreamingEvents.dhashFold(stream)
    val name = s"mb_dhash_${System.nanoTime()}"
    val q = sig.writeStream.outputMode("complete").format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "the fold must have seen at least two non-empty micro-batches")
    try assertSameRows(spark.table(name), graft.ops.Multimodal.dhashSignatures(spark, sf))
    finally spark.catalog.dropTempView(name)
  }

  test("streaming dHash pairs equal the batch q148 sweep (q158 end-to-end)") {
    val streamed = graft.streaming.StreamingEvents.streamMediaPairs(spark, sf)
    val batch = graft.ops.Multimodal.mediaNearDup(spark, sf)
    assert(streamed.count() > 0, "sf0.001 plants near-dups — the sweep must find them")
    assertSameRows(streamed, batch)
  }

  test("q185 streaming quality rollup equals the batch fold; shared q29 expression") {
    val streamed = graft.streaming.StreamingEvents.streamQualityRollup(spark, sf)
    assert(streamed.count() > 0)
    val batchDocs = Tables.documents(spark, sf)
    assertSameRows(streamed,
      graft.streaming.StreamingEvents.qualityFold(batchDocs))
    // one-definition law: qualityColumnOf ≡ qualityScore's column per doc
    val viaShared = ops.TextAnalysis.qualityColumnOf(batchDocs)
      .select(col("doc_id"), col("quality")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ops.TextAnalysis.qualityScore(spark, sf)
      .select(col("doc_id"), col("quality")).collect()
      .foreach(r => assert(viaShared(r.getLong(0)) == r.getDouble(1),
        s"doc ${r.getLong(0)}: shared quality expression diverged"))
  }

  test("q185 fold is micro-batch additive: per-file triggers, same final state") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("stream_qual_mb").toString
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val rolled = graft.streaming.StreamingEvents.qualityFold(stream)
    val name = s"mb_qual_${System.nanoTime()}"
    val q = rolled.writeStream.outputMode("complete").format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "the fold must have seen at least two non-empty micro-batches")
    try assertSameRows(spark.table(name),
      graft.streaming.StreamingEvents.qualityFold(docs))
    finally spark.catalog.dropTempView(name)
  }

  test("q166 TTL dedup with delay past the backlog span equals batch distinct") {
    import org.apache.spark.sql.functions._
    // the 3650-day delay exceeds the whole event-time span, so no key
    // state expires mid-run and the emitted set is exactly the batch
    // DISTINCT (the expiry/re-delivery side is pinned in StreamingDedupSpec)
    val streamed = graft.streaming.StreamingEvents.streamDedupTtl(spark, sf)
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).distinct()
    assertSameRows(streamed, batch)
  }

  test("every streaming query leaves no active stream and no temp view in the caller's session") {
    val streams = SparkEntry.queries.filter(_._1.contains("_stream_"))
    assert(streams.size == 10, s"streaming entries: ${streams.keys.toSeq.sorted}")
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views
    for ((name, q) <- streams) {
      q(spark, sf)
      assert(spark.streams.active.isEmpty, s"$name left a stream running")
      assert(views == before, s"$name left temp views ${views -- before}")
    }
  }

  private implicit class Pipe[A](a: A) { def |>[B](f: A => B): B = f(a) }
}
