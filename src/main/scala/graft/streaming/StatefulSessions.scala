package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import java.time.{LocalDateTime, ZoneOffset}

/** One event row for session building (ts is TIMESTAMP_NTZ ⇒ LocalDateTime). */
case class SessionEvent(user_id: Long, ts: LocalDateTime, value: Double)

/** One emitted session: [first event, last event + gap), per user. */
case class UserSession(
    session_start: LocalDateTime,
    session_end: LocalDateTime,
    user_id: Long,
    n_events: Long,
    sum_value: Double)

/** Custom-state sessionization via `KeyValueGroupedDataset
  * .flatMapGroupsWithState` (SURVEY.md §2.9's "custom state" slot): the
  * same 30-minute-gap semantics as the declarative `session_window`
  * aggregation (q18), expressed as a typed state function — the API a
  * real pipeline reaches for when session logic outgrows what
  * session_window can say (per-session custom features, early emission,
  * cross-session carry-over).
  *
  * Batch and streaming share one function: in batch Spark runs it as a
  * single group pass; under AvailableNow on the bounded file
  * source all data arrives in one microbatch, so NoTimeout + Append
  * yields exactly the batch sessions (a long-running deployment would use
  * a watermark + EventTimeTimeout to emit sessions as they close; that
  * path cannot flush trailing state on a bounded source, which is why the
  * gate uses the single-batch form).
  *
  * Scale: state is per-user and bounded by a user's events per batch;
  * aggregation sums go through scale-6 BigDecimal so emission order
  * can't perturb the double output (matches the decimal-internal /
  * double-boundary convention of the batch queries).
  */
object StatefulSessions {

  private val GapMinutes = 30L

  /** Fold one user's (unordered) events into gap-separated sessions. */
  private[streaming] def buildSessions(
      uid: Long, evs: Iterator[SessionEvent]): Iterator[UserSession] = {
    val sorted = evs.toVector.sortBy(e =>
      (e.ts.toEpochSecond(ZoneOffset.UTC), e.ts.getNano))
    if (sorted.isEmpty) Iterator.empty
    else {
      val out = Vector.newBuilder[UserSession]
      var start = sorted.head.ts
      var last = sorted.head.ts
      var n = 0L
      var sum = BigDecimal(0).setScale(6)
      def emit(): Unit = out += UserSession(
        start, last.plusMinutes(GapMinutes), uid, n, sum.doubleValue)
      sorted.foreach { e =>
        if (java.time.Duration.between(last, e.ts).compareTo(
              java.time.Duration.ofMinutes(GapMinutes)) >= 0) {
          emit(); start = e.ts; n = 0L; sum = BigDecimal(0).setScale(6)
        }
        last = e.ts; n += 1
        // BigDecimal.valueOf = Double.toString canonical form — the same
        // double→decimal(…,6) rounding Spark's cast applies, so this sum
        // matches the declarative sum(dec(value)) bit-for-bit
        sum += BigDecimal(java.math.BigDecimal.valueOf(e.value))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      emit()
      out.result().iterator
    }
  }

  private def stateFn(uid: Long, evs: Iterator[SessionEvent],
                      state: GroupState[Int]): Iterator[UserSession] =
    buildSessions(uid, evs)

  /** Open-session buffer for the watermarked variant: the raw events of
    * every session not yet closed by the watermark (bounded per user by
    * events-per-gap-window — closed sessions leave state immediately). */
  private[streaming] case class SessionBuf(events: Seq[SessionEvent])

  /** Watermark-typed event: Spark event-time watermarks require
    * TIMESTAMP (not NTZ) — under the UTC session timezone the cast is an
    * exact reinterpretation, done once at the stream boundary. */
  private[streaming] case class UtcEvent(user_id: Long, ts: java.time.Instant, value: Double)

  private def epochMs(t: LocalDateTime): Long =
    t.toEpochSecond(ZoneOffset.UTC) * 1000L + t.getNano / 1000000L

  /** The long-running-deployment form the NoTimeout scaladoc points at:
    * watermark + EventTimeTimeout. Each invocation (1) DROPS events at or
    * before the current watermark — late beyond tolerance, mirroring the
    * engine's late-row semantics explicitly, (2) merges the rest with the
    * buffered open sessions, (3) EMITS every session whose close time
    * (last event + gap) the watermark has passed — including on a pure
    * timeout wake-up with no new data, which is what flushes state — and
    * (4) re-arms the timeout at the earliest open close time. Sums reuse
    * buildSessions, so emitted rows are bit-identical to the batch/
    * AvailableNow forms for on-time data. */
  private[streaming] def watermarkStateFn(
      uid: Long, utcEvs: Iterator[UtcEvent],
      state: GroupState[SessionBuf]): Iterator[UserSession] = {
    val gapMs = GapMinutes * 60000L
    val wmMs = state.getCurrentWatermarkMs()
    val fresh = utcEvs
      .map(e => SessionEvent(e.user_id,
        LocalDateTime.ofInstant(e.ts, ZoneOffset.UTC), e.value))
      .filter(e => epochMs(e.ts) >= wmMs).toVector
    val buffered = state.getOption.map(_.events.toVector).getOrElse(Vector.empty)
    val all = (buffered ++ fresh).sortBy(e =>
      (e.ts.toEpochSecond(ZoneOffset.UTC), e.ts.getNano))
    if (all.isEmpty) { state.remove(); return Iterator.empty }
    // split into gap-separated sessions, then close the ones the
    // watermark has passed
    val sessions = all.foldLeft(Vector.empty[Vector[SessionEvent]]) { (acc, e) =>
      if (acc.nonEmpty &&
          epochMs(e.ts) - epochMs(acc.last.last.ts) < gapMs)
        acc.init :+ (acc.last :+ e)
      else acc :+ Vector(e)
    }
    val (closed, open) = sessions.partition(s => epochMs(s.last.ts) + gapMs <= wmMs)
    if (open.isEmpty) state.remove()
    else {
      state.update(SessionBuf(open.flatten))
      // earliest possible close among open sessions; > watermark by the
      // partition above, as EventTimeTimeout requires
      state.setTimeoutTimestamp(open.map(s => epochMs(s.last.ts)).min + gapMs)
    }
    closed.iterator.flatMap(s => buildSessions(uid, s.iterator))
  }

  /** Watermarked sessionization over any (streaming) Dataset of events —
    * exercised by StreamingSpec with a two-batch MemoryStream; the
    * bounded-source oracle gate stays on the NoTimeout forms (q46/q47). */
  def sessionizeWatermarked(events: org.apache.spark.sql.Dataset[SessionEvent],
                            delay: String = "10 minutes") = {
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF()
      .withColumn("ts", col("ts").cast(TimestampType))
      .as[UtcEvent]
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        watermarkStateFn)
  }

  /** q46: the state function run as a batch query (state starts empty,
    * one pass per group) — oracle-identical to the session_window form. */
  def sessionizeBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(stateFn)
      .toDF()
      .select(col("session_start"), col("session_end"), col("user_id"),
        col("n_events"), col("sum_value"))
  }

  /** q47: the same state function as a Structured Streaming query over
    * the events file source, run by the shared AvailableNow runner
    * ([[StreamingEvents.drain]]). The shared source
    * ([[StreamingEvents.eventsStream]]) absorbs the raw ts encoding
    * branch (legacy BIGINT ns vs TIMESTAMP(MICROS)). */
  def sessionizeStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = StreamingEvents.eventsStream(spark, dir)
      .select(col("user_id"),
        col("ts").cast(TimestampNTZType).as("ts"),
        col("value"))
      .as[SessionEvent]
    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(stateFn)
    StreamingEvents.drain(sessions.toDF(), "append")
      .select(col("session_start"), col("session_end"), col("user_id"),
        col("n_events"), col("sum_value"))
  }

  /** Oracle: the lag/gap formulation — same SQL as q18 with the decimal
    * sum surfaced as DOUBLE. */
  private val sessionSql =
    """WITH x AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
      |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))),
      |y AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM x)
      |SELECT min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  user_id, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM y GROUP BY user_id, sid""".stripMargin

  val oracle: Map[String, String] = Map(
    "q46_stateful_sessionize" -> sessionSql,
    "q47_stream_sessionize" -> sessionSql,
  )
}
