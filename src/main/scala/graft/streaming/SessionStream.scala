package graft.streaming

import java.time.{Duration, LocalDateTime}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructField, StructType,
  TimestampType}

/** Event coming off the stream (ts is microsecond TIMESTAMP_NTZ). */
final case class SessionEvent(
    event_id: Long, ts: LocalDateTime, user_id: Long,
    event_type: String, value: Double, props: String)

/** The in-flight session kept in the state store per user. */
final case class OpenSession(start: LocalDateTime, end: LocalDateTime, n: Long, cents: Long)
final case class UserSessionState(nextSeq: Long, open: Option[OpenSession])

/** One emitted (possibly still-open) session. */
final case class SessionRow(
    user_id: Long, session_seq: Long,
    session_start: LocalDateTime, session_end: LocalDateTime,
    n_events: Long, session_value: Double)

/** The in-flight funnel kept per user (q246): session extent + the three
  * write-once stage timestamps.
  */
final case class OpenFunnel(start: LocalDateTime, end: LocalDateTime,
    view: Option[LocalDateTime], click: Option[LocalDateTime],
    purchase: Option[LocalDateTime])
final case class UserFunnelState(nextSeq: Long, open: Option[OpenFunnel])

/** One emitted funnel row — q241's exact output schema. */
final case class FunnelRow(
    user_id: Long, session_seq: Long, view_ts: LocalDateTime,
    click_ts: Option[LocalDateTime], purchase_ts: Option[LocalDateTime],
    stage: Long, click_lat_us: Option[Long], purchase_lat_us: Option[Long])

/** Stateful streaming sessionization — `flatMapGroupsWithState` over
  * `groupByKey(user_id)`, the custom-state tier of the Structured Streaming
  * surface (SURVEY §2.9). Gap rule identical to the batch
  * [[graft.ops.Events.sessionize]], which is the oracle contract: a new
  * session starts when an event arrives more than 30 minutes after the
  * previous one.
  *
  * State per user is ONE open session + a sequence counter — constant bytes
  * per user in the executors' state store, never the event history. Each
  * micro-batch emits every session it touched (update semantics): closed
  * sessions are final, the open session is re-emitted with its latest extent
  * on each batch that extends it. Money is carried as exact integer cents and
  * converted to double once on emit, matching the batch query's
  * decimal-domain sum.
  *
  * Production notes: add `withWatermark` + `GroupStateTimeout.EventTimeTimeout`
  * to close idle sessions and bound state; the in-batch sort below is per
  * (user, batch) — fine when one user's events per micro-batch fit in memory,
  * which a time-based trigger guarantees in practice.
  */
object SessionStream {

  val GapMinutes = 30L

  private def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v).setScale(2, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  private def emit(userId: Long, seq: Long, o: OpenSession): SessionRow =
    SessionRow(userId, seq, o.start, o.end, o.n,
      new java.math.BigDecimal(java.math.BigInteger.valueOf(o.cents), 2).doubleValue())

  /** Pure session-advance core shared by both stateful APIs
    * (`flatMapGroupsWithState` and `transformWithState`): fold one batch of a
    * user's events into the carried state, emitting closed sessions finally
    * and the open session with update semantics.
    */
  private[streaming] def advance(
      userId: Long,
      st: UserSessionState,
      events: Array[SessionEvent]): (Seq[SessionRow], UserSessionState) = {
    val evs = events.sortBy(e => (e.ts, e.event_id))
    var seq = st.nextSeq
    var open = st.open
    val out = ArrayBuffer.empty[SessionRow]
    evs.foreach { e =>
      open match {
        case Some(o) if Duration.between(o.end, e.ts).compareTo(Duration.ofMinutes(GapMinutes)) <= 0 =>
          // max-extent: a cross-batch straggler may carry ts < o.end; the
          // session end must never move backwards
          val end = if (e.ts.isAfter(o.end)) e.ts else o.end
          open = Some(OpenSession(o.start, end, o.n + 1, o.cents + cents(e.value)))
        case Some(o) =>
          out += emit(userId, seq, o) // closed by the gap — final
          seq += 1
          open = Some(OpenSession(e.ts, e.ts, 1, cents(e.value)))
        case None =>
          open = Some(OpenSession(e.ts, e.ts, 1, cents(e.value)))
      }
    }
    open.foreach(o => out += emit(userId, seq, o)) // still-open session, update semantics
    (out.toSeq, UserSessionState(seq, open))
  }

  private[streaming] def updateUser(
      userId: Long,
      events: Iterator[SessionEvent],
      state: GroupState[UserSessionState]): Iterator[SessionRow] = {
    val (out, next) =
      advance(userId, state.getOption.getOrElse(UserSessionState(1L, None)), events.toArray)
    state.update(next)
    out.iterator
  }

  /** [[sessionizeAvailableNow]] with the RocksDB state store provider — the
    * 100 TB state path. The default HDFS-backed provider keeps every user's
    * state as JVM heap objects, so executor memory bounds total state; RocksDB
    * keeps state off-heap on local SSD with incremental (changelog-capable)
    * checkpointing, so per-executor state is bounded by disk, not heap — the
    * only shape that survives hundreds of millions of session keys. Same
    * query, same oracle: the provider is an execution detail, the result is
    * bit-identical.
    */
  def sessionizeRocksDbAvailableNow(spark: SparkSession, sfDir: String): DataFrame =
    drainSessions(spark, userSessions(spark, sfDir), RocksDb)

  /** The state-store provider conf that starts a query on RocksDB. Spark has
    * no per-query provider API: [[Drain.run]] sets it for `start()` only.
    */
  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run the sessionizer over the events directory to completion
    * (AvailableNow) and return the final per-session rows. With the whole
    * input in one batch this equals the batch sessionize — the oracle checks
    * exactly that.
    */
  def sessionizeAvailableNow(spark: SparkSession, sfDir: String): DataFrame =
    drainSessions(spark, userSessions(spark, sfDir))

  /** The `flatMapGroupsWithState` sessionizer over the events directory. */
  private def userSessions(spark: SparkSession, sfDir: String): Dataset[SessionRow] = {
    import spark.implicits._
    Staged.stream(spark, sfDir, "events")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updateUser)
  }

  /** The sessionizer on `transformWithState` — Structured Streaming's
    * arbitrary-state API v2 (Spark 4): explicit named state slots on a
    * [[StatefulProcessorHandle]] instead of one opaque `GroupState` blob.
    * The same [[advance]] core runs against a `ValueState[UserSessionState]`,
    * so this and [[sessionizeAvailableNow]] are the same algorithm under two
    * state APIs — and the oracle holds for both. The API requires the RocksDB
    * provider (it refuses the HDFS-backed one), which is also the scale
    * choice: v2 unlocks per-slot TTL, timers, and schema evolution on
    * off-heap state.
    */
  def sessionizeTwsAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sessions = Staged.stream(spark, sfDir, "events")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionizeProcessor, TimeMode.None(), OutputMode.Update())
    drainSessions(spark, sessions, RocksDb)
  }

  /** One AvailableNow drain of the timer-closed sessionizer ([[IdleCloseProcessor]])
    * over a watched directory into an append-only parquet sink. Called
    * repeatedly with the same checkpoint it resumes state and timers — the
    * spec drives batches through it and asserts sessions appear exactly once,
    * closed either by a same-user gap event or by the watermark-driven timer.
    */
  def idleCloseDrain(spark: SparkSession, src: String, out: String, chk: String,
      watermarkDelay: String = "10 minutes"): Unit = {
    import spark.implicits._
    val closed = spark.readStream.schema(timedSchema).parquet(src)
      .withWatermark("ts", watermarkDelay)
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new IdleCloseProcessor(GapMinutes * 60 * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
    Drain.run(spark, chk, RocksDb) {
      closed.writeStream.format("parquet").option("path", out).outputMode("append")
    }
  }

  /** The (user_id, ts, value) events the timer-closed and the built-in
    * session-window drains read (ts zoned: event-time watermarks require it).
    */
  private val timedSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  /** The BUILT-IN `session_window` aggregation as a production stream: the
    * same declarative expression as the batch
    * [[graft.ops.Events.sessionizeNative]] (q105), under a watermark, in
    * append mode, to a parquet sink with a caller-owned durable checkpoint.
    * Sessions are emitted exactly once — when the watermark passes
    * last-event + gap — and the engine's merging-session state does what the
    * three hand-built stateful processors do by hand. The spec drives two
    * separate drains with one checkpoint and pins CROSS-DRAIN SESSION
    * MERGING: a session partial checkpointed by drain 1 must absorb drain
    * 2's in-gap arrivals before finalizing.
    */
  def sessionizeNativeToParquet(spark: SparkSession, src: String, out: String,
      chk: String, watermarkDelay: String = "10 minutes",
      gap: String = "30 minutes"): Unit = {
    val sessions = spark.readStream.schema(timedSchema).parquet(src)
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2)))
          .cast("double").as("session_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
    Drain.run(spark, chk) {
      sessions.writeStream.format("parquet").option("path", out).outputMode("append")
    }
  }

  /** STREAMING SESSIONIZED FUNNEL — q241's semantics as per-user streaming
    * state, the q226 pattern (batch/stream parity against the SAME oracle
    * SQL): the state per user is ONE open funnel (session extent + the three
    * first-stage timestamps) plus the session counter — constant bytes per
    * user, never the event history. The stage machine folds each event in
    * order: first view opens the funnel, the first click strictly after the
    * view and within 10 min locks `click_ts`, the first purchase strictly
    * after that click and within 30 min locks `purchase_ts` — each field
    * write-once, so an open session's re-emissions only ever move the stage
    * FORWARD and the update-mode dedup (max stage per session) is exact.
    * Sessions without a view consume a sequence number but emit nothing,
    * matching the batch numbering. In-batch events are sorted (ts,
    * event_id); the funnel fields are exact within any prefix of batches
    * whose events arrive in order — the AvailableNow gate runs ONE batch, so
    * parity with batch q241 is exact (a cross-batch straggler view earlier
    * than an already-locked click is the same accepted-staleness class the
    * documented watermark caveats cover).
    */
  private[streaming] def advanceFunnel(
      userId: Long,
      st: UserFunnelState,
      events: Array[SessionEvent],
      clickWindowMin: Int = 10,
      purchaseWindowMin: Int = 30): (Seq[FunnelRow], UserFunnelState) = {
    val evs = events.sortBy(e => (e.ts, e.event_id))
    var seq = st.nextSeq
    var open = st.open
    val out = ArrayBuffer.empty[FunnelRow]
    def fresh(e: SessionEvent): OpenFunnel =
      OpenFunnel(e.ts, e.ts,
        if (e.event_type == "view") Some(e.ts) else None, None, None)
    def folded(o: OpenFunnel, e: SessionEvent): OpenFunnel = {
      val end = if (e.ts.isAfter(o.end)) e.ts else o.end
      e.event_type match {
        case "view" if o.view.isEmpty =>
          o.copy(end = end, view = Some(e.ts))
        case "click" if o.view.isDefined && o.click.isEmpty &&
            e.ts.isAfter(o.view.get) &&
            !e.ts.isAfter(o.view.get.plusMinutes(clickWindowMin.toLong)) =>
          o.copy(end = end, click = Some(e.ts))
        case "purchase" if o.click.isDefined && o.purchase.isEmpty &&
            e.ts.isAfter(o.click.get) &&
            !e.ts.isAfter(o.click.get.plusMinutes(purchaseWindowMin.toLong)) =>
          o.copy(end = end, purchase = Some(e.ts))
        case _ => o.copy(end = end)
      }
    }
    def emitF(o: OpenFunnel): Unit = o.view.foreach { v =>
      val us = java.time.temporal.ChronoUnit.MICROS
      out += FunnelRow(userId, seq, v, o.click, o.purchase,
        if (o.purchase.isDefined) 3L else if (o.click.isDefined) 2L else 1L,
        o.click.map(c => us.between(v, c)),
        o.purchase.map(p => us.between(o.click.get, p)))
    }
    evs.foreach { e =>
      open match {
        case Some(o) if Duration.between(o.end, e.ts)
            .compareTo(Duration.ofMinutes(GapMinutes)) <= 0 =>
          open = Some(folded(o, e))
        case Some(o) =>
          emitF(o) // closed by the gap — final
          seq += 1
          open = Some(fresh(e))
        case None =>
          open = Some(fresh(e))
      }
    }
    open.foreach(emitF) // still-open funnel, update semantics
    (out.toSeq, UserFunnelState(seq, open))
  }

  // curried so the two conversion windows ride the closure, not the state:
  // they are job config shared with batch Events.sessionFunnel, and storing
  // them per-user would break resumed checkpoints on a config change
  private[streaming] def updateFunnelUser(
      clickWindowMin: Int, purchaseWindowMin: Int)(
      userId: Long,
      events: Iterator[SessionEvent],
      state: GroupState[UserFunnelState]): Iterator[FunnelRow] = {
    val (out, next) = advanceFunnel(userId,
      state.getOption.getOrElse(UserFunnelState(1L, None)), events.toArray,
      clickWindowMin, purchaseWindowMin)
    state.update(next)
    out.iterator
  }

  /** Run the streaming funnel to completion (AvailableNow) and return the
    * final per-session funnel rows — gated against q241's EXACT oracle SQL.
    * The two conversion windows default to (and must match) the batch twin
    * [[graft.ops.Events.sessionFunnel]]'s parameters for the parity contract.
    */
  def funnelAvailableNow(spark: SparkSession, sfDir: String,
      clickWindowMin: Int = 10, purchaseWindowMin: Int = 30): DataFrame = {
    import spark.implicits._
    val rows = Staged.stream(spark, sfDir, "events")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        updateFunnelUser(clickWindowMin, purchaseWindowMin))
    val drained = Drain.toMemoryTable(spark, rows, "update", "graft_stream_funnel")
    // stage is write-once-forward, so rows for one session at equal stage are
    // identical — max stage IS the final emission
    val latest = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("stage").desc)
    drained
      .withColumn("__rn", row_number().over(latest))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("session_seq"), col("view_ts"),
        col("click_ts"), col("purchase_ts"), col("stage"),
        col("click_lat_us"), col("purchase_lat_us"))
  }

  /** Drain an update-mode session stream to completion (AvailableNow) and keep
    * each session's FINAL emission. The update-mode memory sink APPENDS each
    * batch's emissions; if AvailableNow split the input across micro-batches,
    * a session appears once per batch that touched it. n_events strictly
    * grows with each re-emission (a closing emission duplicates the last open
    * one exactly), so the max row is the final state and the dedup is
    * deterministic.
    */
  private def drainSessions(spark: SparkSession, sessions: Dataset[SessionRow],
      confs: (String, String)*): DataFrame = {
    val drained = Drain.toMemoryTable(spark, sessions, "update", "graft_stream_sessions",
      confs: _*)
    val latest = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("n_events").desc, col("session_end").desc)
    drained
      .withColumn("__rn", row_number().over(latest))
      .filter(col("__rn") === 1)
      .select(
        col("user_id"), col("session_seq"),
        col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
  }
}

/** Event coming off the timer-closed stream (ts is a zoned TimestampType —
  * event-time watermarks require it).
  */
final case class TimedEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** A session closed EITHER by a same-key gap or by the event-time timer. */
final case class ClosedSession(
    user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Long)

/** The PRODUCTION shape of stateful sessionization: closed-only, append-mode,
  * timer-driven. The update-mode sessionizers above re-emit the open session
  * every batch (fine for a serving table, wrong for an append-only sink);
  * here a session is emitted exactly once — when a same-user event arrives
  * past the gap, or when the EVENT-TIME TIMER fires because the watermark
  * passed `session_end + gap` with no further activity. Timers are the v2
  * API's replacement for `GroupStateTimeout`: per-key, persisted in the state
  * store, evaluated against the watermark — so an idle user's state is
  * emitted and freed without waiting for that user to ever appear again,
  * which is what bounds state on a 10⁸-key stream where most keys go quiet.
  */
class IdleCloseProcessor(gapMs: Long) extends StatefulProcessor[Long, TimedEvent, ClosedSession] {
  @transient private var open: ValueState[OpenWindow] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[OpenWindow]("open",
      org.apache.spark.sql.Encoders.product[OpenWindow], TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[TimedEvent],
      timerValues: TimerValues): Iterator[ClosedSession] = {
    val evs = rows.toArray.sortBy(_.ts.getTime)
    var cur = if (open.exists()) Option(open.get()) else None
    var out = List.empty[ClosedSession]
    evs.foreach { e =>
      val t = e.ts.getTime
      cur match {
        // within the gap of the open interval on EITHER side: merge, moving
        // start backward for watermark-admitted late events — an emit-once
        // sink can never correct a session whose start was pinned too late
        case Some(o) if t >= o.start - gapMs && t - o.end <= gapMs =>
          cur = Some(OpenWindow(math.min(o.start, t), math.max(o.end, t), o.n + 1))
        // late event beyond the gap BEFORE the open session: it belongs to
        // an earlier, already-idle period. Emit it as its own closed
        // singleton now (any event that could have extended it is even
        // later-arriving; splitting that pathological case is the documented
        // cost of emit-once semantics) and leave the open session untouched
        case Some(o) if t < o.start - gapMs =>
          out ::= ClosedSession(key, e.ts, e.ts, 1)
        case Some(o) =>
          out ::= closed(key, o)
          cur = Some(OpenWindow(t, t, 1))
        case None =>
          cur = Some(OpenWindow(t, t, 1))
      }
    }
    cur.foreach { o =>
      open.update(o)
      // one live timer per key: re-arm at the open session's idle deadline
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(o.end + gapMs)
    }
    out.reverse.iterator
  }

  override def handleExpiredTimer(
      key: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] =
    if (open.exists() && open.get().end + gapMs <= expiredTimerInfo.getExpiryTimeInMs) {
      val o = open.get()
      open.clear()
      Iterator.single(closed(key, o))
    } else Iterator.empty // stale timer: the session was extended or re-opened

  private def closed(key: Long, o: OpenWindow): ClosedSession =
    ClosedSession(key, new java.sql.Timestamp(o.start), new java.sql.Timestamp(o.end), o.n)
}

/** Open-session aggregate carried in state, epoch-millis domain (timers are
  * epoch millis, so the comparison never round-trips through a calendar).
  */
final case class OpenWindow(start: Long, end: Long, n: Long)

/** [[SessionStream.advance]] as a `transformWithState` processor: the carried
  * per-user state lives in a NAMED ValueState slot (the v2 API's explicit
  * state model). Stateless wrapper — all session logic is in `advance`.
  */
class SessionizeProcessor extends StatefulProcessor[Long, SessionEvent, SessionRow] {
  @transient private var state: ValueState[UserSessionState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserSessionState]("session",
      org.apache.spark.sql.Encoders.product[UserSessionState], TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[SessionEvent],
      timerValues: TimerValues): Iterator[SessionRow] = {
    val cur = if (state.exists()) state.get() else UserSessionState(1L, None)
    val (out, next) = SessionStream.advance(key, cur, rows.toArray)
    state.update(next)
    out.iterator
  }
}
