package graft.streaming

import java.time.LocalDateTime

import org.apache.spark.sql.streaming.TestGroupState

import graft.SparkSpec

/** Cross-micro-batch state semantics — the part the single-batch AvailableNow
  * oracle (q34) cannot exercise: sessions must continue, close, and renumber
  * correctly when a user's events arrive split across batches.
  */
class SessionStreamSpec extends SparkSpec {

  private def ev(id: Long, t: String, v: Double) =
    SessionEvent(id, LocalDateTime.parse(t), user_id = 7L, event_type = "click", v, "")

  private def freshState(): TestGroupState[UserSessionState] =
    TestGroupState.create[UserSessionState](
      org.apache.spark.api.java.Optional.empty[UserSessionState](),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      0L, org.apache.spark.api.java.Optional.empty[Long](), false)

  private def run(state: TestGroupState[UserSessionState], events: SessionEvent*) =
    SessionStream.updateUser(7L, events.iterator, state).toSeq

  test("a session spanning two batches continues, then closes on the gap") {
    val state = freshState()

    // batch 1: two events 10 min apart -> one open session
    val out1 = run(state, ev(1, "2024-01-01T10:00:00", 1.0), ev(2, "2024-01-01T10:10:00", 2.0))
    assert(out1.map(_.session_seq) == Seq(1L))
    assert(out1.head.n_events == 2 && out1.head.session_value == 3.0)

    // batch 2: 20 min later (within gap) extends it; then a 2h jump opens #2
    val out2 = run(state,
      ev(3, "2024-01-01T10:30:00", 4.0), ev(4, "2024-01-01T12:30:00", 8.0))
    assert(out2.map(_.session_seq) == Seq(1L, 2L))
    val closed = out2.head
    assert(closed.n_events == 3 && closed.session_value == 7.0) // batch-1 state carried
    assert(closed.session_start == LocalDateTime.parse("2024-01-01T10:00:00"))
    assert(closed.session_end == LocalDateTime.parse("2024-01-01T10:30:00"))
    assert(out2(1).n_events == 1 && out2(1).session_value == 8.0)

    // state now holds session #2 open with nextSeq = 2
    assert(state.get.nextSeq == 2L && state.get.open.get.n == 1L)
  }

  test("RocksDB state store provider yields the identical session table and restores conf") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val rocks = SessionStream.sessionizeRocksDbAvailableNow(spark, sf)
    assert(spark.conf.getOption(key) == before) // conf scoped to the one query
    val batch = graft.ops.Events.sessionize(spark, sf)
      .select(col("user_id"), col("session_seq"), col("session_start"),
        col("session_end"), col("n_events"), col("session_value"))
    assert(rocks.count() > 0)
    assert(rocks.exceptAll(batch).isEmpty && batch.exceptAll(rocks).isEmpty)
  }

  test("transformWithState sessionizer equals the batch sessionize") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val tws = SessionStream.sessionizeTwsAvailableNow(spark, sf)
    val batch = graft.ops.Events.sessionize(spark, sf)
      .select(col("user_id"), col("session_seq"), col("session_start"),
        col("session_end"), col("n_events"), col("session_value"))
    assert(tws.count() > 0)
    assert(tws.exceptAll(batch).isEmpty && batch.exceptAll(tws).isEmpty)
  }

  test("event-time timer closes an idle session once the watermark passes its deadline") {
    import java.nio.file.{Files, Paths}
    import java.sql.Timestamp
    import spark.implicits._
    val root = tmpDir("idleclose")
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val out = s"$root/out"; val chk = s"$root/chk"

    def writeBatch(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      rows.map { case (u, t, v) => (u, Timestamp.valueOf(t), v) }
        .toDF("user_id", "ts", "value")
        .coalesce(1).write.parquet(s"$root/stage")
      val part = new java.io.File(s"$root/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(src, s"$name.parquet"))
      graft.core.Scratch.delete(s"$root/stage")
    }
    def readOut(): Seq[(Long, String, String, Long)] = {
      val f = new java.io.File(out)
      if (!f.exists() || f.listFiles().count(_.getName.endsWith(".parquet")) == 0) Seq.empty
      else spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3))).toSeq
    }

    // batch 1: user 7's two events — session open, timer armed at 10:40
    writeBatch("b1", Seq((7L, "2024-01-01 10:00:00", 1.0), (7L, "2024-01-01 10:10:00", 1.0)))
    SessionStream.idleCloseDrain(spark, src, out, chk)
    assert(readOut().isEmpty) // nothing closed: watermark still behind the deadline

    // batches 2+3: user 99's activity advances the watermark past 10:40
    // (12:20 - 10 min delay = 12:10) WITHOUT touching user 7 — only the
    // timer can close 7's session. 99's own session stays open (deadline
    // 12:50 > final watermark 12:10), so it must NOT appear.
    writeBatch("b2", Seq((99L, "2024-01-01 12:00:00", 1.0)))
    SessionStream.idleCloseDrain(spark, src, out, chk)
    writeBatch("b3", Seq((99L, "2024-01-01 12:20:00", 1.0)))
    SessionStream.idleCloseDrain(spark, src, out, chk)

    assert(readOut() ==
      Seq((7L, "2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2L)))
  }

  test("native session_window stream merges a checkpointed session partial across drains") {
    import java.nio.file.{Files, Paths}
    import java.sql.Timestamp
    import spark.implicits._
    val root = tmpDir("nativesess")
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val out = s"$root/out"; val chk = s"$root/chk"

    def writeBatch(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      rows.map { case (u, t, v) => (u, Timestamp.valueOf(t), v) }
        .toDF("user_id", "ts", "value")
        .coalesce(1).write.parquet(s"$root/stage")
      val part = new java.io.File(s"$root/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(src, s"$name.parquet"))
      graft.core.Scratch.delete(s"$root/stage")
    }

    // drain 1: user 7's open session [10:00, 10:10] — checkpointed, unemitted
    writeBatch("b1", Seq((7L, "2024-01-01 10:00:00", 1.0), (7L, "2024-01-01 10:10:00", 2.0)))
    SessionStream.sessionizeNativeToParquet(spark, src, out, chk)
    assert(new java.io.File(out).listFiles() == null || spark.read.parquet(out).isEmpty)

    // drain 2: an in-gap arrival (10:20) must MERGE into the restored
    // partial; user 99's 15:00 event advances the watermark to 14:50, past
    // the merged session's 10:20+30m close → emitted once, n_events = 3.
    // 99's own session (closes 15:30 > watermark) must be withheld.
    writeBatch("b2", Seq((7L, "2024-01-01 10:20:00", 4.0), (99L, "2024-01-01 15:00:00", 8.0)))
    SessionStream.sessionizeNativeToParquet(spark, src, out, chk)

    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString,
        r.getLong(3), r.getDouble(4)))
    assert(rows.toSeq == Seq(
      (7L, "2024-01-01 10:00:00.0", "2024-01-01 10:20:00.0", 3L, 7.0)))
  }

  test("a watermark-admitted late event moves the open session's start backward") {
    import java.nio.file.{Files, Paths}
    import java.sql.Timestamp
    import spark.implicits._
    val root = tmpDir("lateclose")
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val out = s"$root/out"; val chk = s"$root/chk"
    def writeBatch(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      rows.map { case (u, t, v) => (u, Timestamp.valueOf(t), v) }
        .toDF("user_id", "ts", "value")
        .coalesce(1).write.parquet(s"$root/stage")
      val part = new java.io.File(s"$root/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(src, s"$name.parquet"))
      graft.core.Scratch.delete(s"$root/stage")
    }
    // batch 1: session opens at 10:10 (watermark after: 10:00)
    writeBatch("b1", Seq((7L, "2024-01-01 10:10:00", 1.0)))
    SessionStream.idleCloseDrain(spark, src, out, chk)
    // batch 2: a LATE but admitted event at 10:05 (>= watermark 10:00) —
    // within the gap BEFORE the open start, so the session must extend
    // backward; an emit-once sink can never fix a too-late start afterwards
    writeBatch("b2", Seq((7L, "2024-01-01 10:05:00", 1.0)))
    SessionStream.idleCloseDrain(spark, src, out, chk)
    // advance the watermark far past 7's idle deadline via another user
    writeBatch("b3", Seq((99L, "2024-01-01 13:00:00", 1.0)))
    SessionStream.idleCloseDrain(spark, src, out, chk)
    writeBatch("b4", Seq((99L, "2024-01-01 13:20:00", 1.0)))
    SessionStream.idleCloseDrain(spark, src, out, chk)
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
      .toSeq
    assert(rows == Seq((7L, "2024-01-01 10:05:00.0", "2024-01-01 10:10:00.0", 2L)))
  }

  test("exactly 30 minutes is the same session; 30m01s is a new one") {
    val s1 = freshState()
    val boundary = run(s1, ev(1, "2024-01-01T10:00:00", 1.0), ev(2, "2024-01-01T10:30:00", 1.0))
    assert(boundary.map(_.n_events) == Seq(2L))

    val s2 = freshState()
    val over = run(s2, ev(1, "2024-01-01T10:00:00", 1.0), ev(2, "2024-01-01T10:30:01", 1.0))
    assert(over.map(_.n_events) == Seq(1L, 1L))
  }
}
