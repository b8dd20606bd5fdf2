package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Watermark semantics for the production-shape rollup: append mode emits a
  * window exactly once, only after the watermark passes its end, and late
  * windows stay unemitted until the event-time high-water mark advances.
  */
class EventStreamSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def writeBatch(spark: org.apache.spark.sql.SparkSession,
      dir: String, name: String, rows: Seq[(String, String, Double)]): Unit = {
    import spark.implicits._
    rows.map { case (t, e, v) => (Timestamp.valueOf(t), e, v) }
      .toDF("ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/$name")
    // file source watches one directory level; move part files up
    val part = new java.io.File(s"$dir/$name").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(dir, s"$name.parquet"))
    graft.core.Scratch.delete(s"$dir/$name")
  }

  private def drain(src: String, out: String, chk: String): Unit = {
    val q = EventStream.hourlyRollupWatermarked(
      spark.readStream.schema(schema).parquet(src))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("append mode emits a window once, only after the watermark passes it") {
    val root = tmpDir("wm")
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val out = s"$root/out"; val chk = s"$root/chk"

    // batch 1: events in the 10:00 and 11:00 windows → nothing finalized yet
    writeBatch(spark, src, "b1", Seq(
      ("2024-01-01 10:05:00", "click", 1.0),
      ("2024-01-01 10:45:00", "click", 2.0),
      ("2024-01-01 11:00:30", "view", 4.0)))
    drain(src, out, chk)
    assert(spark.read.schema(EventStream.eventsSchema).parquet(out).isEmpty
      || spark.read.parquet(out).isEmpty)

    // batch 2 advances event time to 15:00 (watermark → 13:00 after it)
    writeBatch(spark, src, "b2", Seq(("2024-01-01 15:00:00", "click", 8.0)))
    drain(src, out, chk)

    // batch 3 advances event time to 20:00; after the AvailableNow flush the
    // watermark is 18:00, so windows ending ≤ 18:00 (10, 11, 15) are final —
    // and the 20:00 window is still HELD BACK, which is the point
    writeBatch(spark, src, "b3", Seq(("2024-01-01 20:00:00", "view", 16.0)))
    drain(src, out, chk)

    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2))
    assert(rows.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 11:00:00.0", "view", 1L, 4.0),
      ("2024-01-01 15:00:00.0", "click", 1L, 8.0)))
  }

  test("stream-static segment rollup matches its batch twin exactly") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val streamed = EventStream.segmentRollupAvailableNow(spark, sf)
    val batch = graft.core.Tables.events(spark, sf)
      .join(graft.core.Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("c_mktsegment"), col("event_type"), col("n_events"), col("total_value"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("watermarked trending finalizes a window once, merging sketch partials across batches") {
    import spark.implicits._
    val root = tmpDir("wmtrend")
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val out = s"$root/out"; val chk = s"$root/chk"
    val trendSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("props", StringType)))
    def write(name: String, rows: Seq[(String, String, String)]): Unit = {
      rows.map { case (t, e, p) => (Timestamp.valueOf(t), e, p) }
        .toDF("ts", "event_type", "props")
        .coalesce(1).write.parquet(s"$root/stage")
      val part = new java.io.File(s"$root/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(src, s"$name.parquet"))
      graft.core.Scratch.delete(s"$root/stage")
    }
    def drainTrend(): Unit = {
      val q = EventStream.trendingWatermarked(
        spark.readStream.schema(trendSchema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
    }
    // batch 1: two terms in the 10:00 window — not finalized, nothing emitted
    write("b1", Seq(
      ("2024-01-01 10:05:00", "click", """{"k": 7}"""),
      ("2024-01-01 10:10:00", "click", """{"k": 7}""")))
    drainTrend()
    assert(new java.io.File(out).listFiles() == null ||
      spark.read.parquet(out).isEmpty)
    // batch 2: MORE arrivals for the same window (the state-store partial
    // from b1 must merge with these), still nothing finalized
    write("b2", Seq(
      ("2024-01-01 10:20:00", "click", """{"k": 7}"""),
      ("2024-01-01 10:25:00", "click", """{"k": 9}""")))
    drainTrend()
    // batch 3: event time jumps to 15:00 → watermark 13:00 finalizes 10:00
    write("b3", Seq(("2024-01-01 15:00:00", "click", """{"k": 1}""")))
    drainTrend()
    val rows = spark.read.parquet(out)
      .selectExpr("CAST(hour AS STRING) AS hour", "event_type",
        "transform(hh, x -> x.term) AS terms", "transform(hh, x -> x.est_count) AS counts")
      .collect()
    assert(rows.length == 1) // the 15:00 window is withheld
    val r = rows.head
    assert(r.getString(0).startsWith("2024-01-01 10:00:00") && r.getString(1) == "click")
    assert(r.getSeq[String](2) == Seq("7", "9"))   // est desc, term asc
    assert(r.getSeq[Long](3) == Seq(3L, 1L))       // b1's partial merged with b2's
  }

  /** The exactly-once file-sink round-trip contract over REAL data: two
    * separate [[EventStream.trendingToParquet]] drains share one durable
    * checkpoint; the second must resume file-source offsets and sketch state
    * from the first (not reprocess, not re-emit), and the combined sink must
    * equal the batch twin restricted to watermark-finalized windows.
    */
  test("trendingToParquet restart: two drains, one checkpoint, sink equals the batch twin") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val root = tmpDir("trendpq")
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val out = s"$root/out"; val chk = s"$root/chk"

    val ev = graft.core.Tables.events(spark, sf)
    def ship(name: String, batch: org.apache.spark.sql.DataFrame): Unit = {
      batch.coalesce(1).write.parquet(s"$root/stage")
      val part = new java.io.File(s"$root/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(src, s"$name.parquet"))
      graft.core.Scratch.delete(s"$root/stage")
    }
    // time-split mid-window so the 12:00 window can span both drains
    val split = "2024-01-16 12:30:00"
    ship("b1", ev.filter(col("ts") < lit(split).cast("timestamp_ntz")))
    EventStream.trendingToParquet(spark, src, out, chk)
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst > 0) // drain 1 finalized (and emitted) real windows

    ship("b2", ev.filter(col("ts") >= lit(split).cast("timestamp_ntz")))
    EventStream.trendingToParquet(spark, src, out, chk)

    val sunk = spark.read.parquet(out)
      .select(col("hour").cast("string").as("hour"), col("event_type"),
        explode(col("hh")).as("e"))
      .select(col("hour"), col("event_type"),
        col("e.term").as("term"), col("e.est_count").as("est_count"))
    // batch twin: exact per-window counts (k=128 > per-type vocab ⇒ sketch is
    // exact), restricted to windows the final watermark (max ts − 2 h) passed
    val maxTs = ev.agg(max(col("ts"))).head.getAs[java.time.LocalDateTime](0)
    val horizon = java.sql.Timestamp.valueOf(maxTs.minusHours(2))
    val twin = ev
      .select(col("ts"), col("event_type"),
        from_json(col("props"), "k BIGINT", Map.empty[String, String])
          .getField("k").cast("string").as("term"))
      .filter(col("term").isNotNull)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"), col("term"))
      .agg(count(lit(1)).as("est_count"))
      .filter(col("window.end") <= lit(horizon).cast("timestamp_ntz"))
      .select(col("window.start").cast("string").as("hour"), col("event_type"),
        col("term"), col("est_count"))
    assert(sunk.count() > afterFirst) // drain 2 appended, resuming the checkpoint
    assert(sunk.exceptAll(twin).isEmpty && twin.exceptAll(sunk).isEmpty)
  }

  test("left-outer stream-stream join: finalized slice equals the batch left join") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val streamed = EventStream.purchaseClickLeftJoinAvailableNow(spark, sf)
    val ev = graft.core.Tables.events(spark, sf)
    val maxTs = ev.agg(max(col("ts"))).head.getAs[java.time.LocalDateTime](0)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
      .filter(col("pts") <= lit(java.sql.Timestamp.valueOf(maxTs.minusHours(2))).cast("timestamp_ntz"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("ts").as("cts"))
    val batch = p.join(c,
        col("cu") === col("user_id") &&
          col("cts") >= col("pts") - expr("INTERVAL 10 MINUTES") &&
          col("cts") <= col("pts"), "leftOuter")
      .select(col("purchase_id"), col("user_id"), col("click_id"))
    assert(streamed.filter(col("click_id").isNull).count() > 0,
      "the slice contains null-padded (unconverted) purchases")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  /** The transactional-sink twin of the trendingToParquet restart test: two
    * [[EventStream.hourlyRollupToJdbc]] drains share one durable checkpoint
    * and one Derby table; the second must resume (not re-emit), and the final
    * table must equal the batch rollup restricted to finalized windows.
    */
  test("hourlyRollupToJdbc restart: two drains, one checkpoint, table equals the batch twin") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val root = tmpDir("jdbcroll")
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val conn = graft.io.JdbcConn(s"jdbc:derby:$root/db;create=true")

    val ev = graft.core.Tables.events(spark, sf)
    def ship(name: String, batch: org.apache.spark.sql.DataFrame): Unit = {
      batch.coalesce(1).write.parquet(s"$root/stage")
      val part = new java.io.File(s"$root/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(src, s"$name.parquet"))
      graft.core.Scratch.delete(s"$root/stage")
    }
    val split = "2024-01-16 12:30:00"
    ship("b1", ev.filter(col("ts") < lit(split).cast("timestamp_ntz")))
    EventStream.hourlyRollupToJdbc(spark, src, conn, "rollup_restart", s"$root/chk")
    val afterFirst = graft.io.Jdbc.read(spark, conn, "rollup_restart").count()
    assert(afterFirst > 0)

    ship("b2", ev.filter(col("ts") >= lit(split).cast("timestamp_ntz")))
    EventStream.hourlyRollupToJdbc(spark, src, conn, "rollup_restart", s"$root/chk")

    val sunk = graft.io.Jdbc.read(spark, conn, "rollup_restart")
      .select(col("hour").cast("timestamp_ntz").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))
    val maxTs = ev.agg(max(col("ts"))).head.getAs[java.time.LocalDateTime](0)
    val horizon = java.sql.Timestamp.valueOf(maxTs.minusHours(2))
    val twin = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .filter(col("hour") + expr("INTERVAL 1 HOUR") <= lit(horizon).cast("timestamp_ntz"))
    assert(sunk.count() > afterFirst)
    assert(sunk.exceptAll(twin).isEmpty && twin.exceptAll(sunk).isEmpty)
  }

  /** The smallest fixture dataset (TESTDATA.md). */
  private val sf001 = "/root/testdata/sf0.001"

  test("a staged table streams with the batch table's schema and rows") {
    for (name <- Seq("events", "documents", "embeddings", "orders")) {
      val batch =
        if (name == "events") graft.core.Tables.events(spark, sf001)
        else graft.core.Tables.load(spark, sf001, name)
      val stream = Staged.stream(spark, sf001, name)
      assert(stream.schema === batch.schema, name)
      val drained = Drain.toMemoryTable(spark, stream, "append", s"staged_$name")
      assert(drained.exceptAll(batch).isEmpty && batch.exceptAll(drained).isEmpty, name)
    }
  }

  /** Move `batch` into the watched directory `src` as one file `name`. */
  private def shipTo(src: String, name: String, batch: org.apache.spark.sql.DataFrame): Unit = {
    val stage = s"${Paths.get(src).getParent}/stage_$name"
    batch.coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(src, s"$name.parquet"))
    graft.core.Scratch.delete(stage)
  }

  /** The rollup of `ev` as a batch query, restricted to the windows the
    * watermark (max ts − 2 h) has finalized, in the JDBC table's columns.
    */
  private def finalizedRollup(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val maxTs = ev.agg(max(col("ts"))).head.getAs[java.time.LocalDateTime](0)
    val horizon = java.sql.Timestamp.valueOf(maxTs.minusHours(2))
    ev.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .filter(col("hour") + expr("INTERVAL 1 HOUR") <= lit(horizon).cast("timestamp_ntz"))
  }

  private def rollupTable(conn: graft.io.JdbcConn, table: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.io.Jdbc.read(spark, conn, table)
      .select(col("hour").cast("timestamp_ntz").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** The state-partition count that batch `n`'s offset log entry pins. */
  private def pinnedPartitions(chk: String, n: Long): Int = {
    val entry = new String(Files.readAllBytes(Paths.get(chk, "offsets", n.toString)), "UTF-8")
    "\"spark.sql.shuffle.partitions\":\"(\\d+)\"".r.findFirstMatchIn(entry)
      .getOrElse(fail(s"no partition count in $chk/offsets/$n")).group(1).toInt
  }

  private def lastBatch(chk: String): Long =
    new java.io.File(s"$chk/offsets").list().filter(_.forall(_.isDigit)).map(_.toLong).max

  test("hourlyRollupToJdbc starts a fresh checkpoint with one state partition") {
    val root = tmpDir("jdbcroll1")
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val conn = graft.io.JdbcConn(s"jdbc:derby:$root/db;create=true")
    val ev = graft.core.Tables.events(spark, sf001)
    shipTo(src, "b1", ev)
    EventStream.hourlyRollupToJdbc(spark, src, conn, "rollup_one", s"$root/chk")
    assert(lastBatch(s"$root/chk") === 1, "a data batch, then the watermark-advance batch")
    assert((0L to 1L).map(pinnedPartitions(s"$root/chk", _)) === Seq(1, 1))
    val sunk = rollupTable(conn, "rollup_one")
    val twin = finalizedRollup(ev)
    assert(sunk.count() > 0)
    assert(sunk.exceptAll(twin).isEmpty && twin.exceptAll(sunk).isEmpty)
  }

  test("hourlyRollupToJdbc resumes a checkpoint pinned to 8 state partitions with 8") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val root = tmpDir("jdbcroll8")
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val chk = s"$root/chk"
    val conn = graft.io.JdbcConn(s"jdbc:derby:$root/db;create=true")
    val ev = graft.core.Tables.events(spark, sf001)
    val split = lit("2024-01-16 12:30:00").cast("timestamp_ntz")
    shipTo(src, "b1", ev.filter(col("ts") < split))
    // the checkpoint an 8-partition drain leaves: the same query and sink
    Drain.run(spark, chk, "spark.sql.shuffle.partitions" -> "8") {
      EventStream.hourlyRollupWatermarked(spark.readStream.schema(EventStream.eventsSchema)
          .parquet(src).withColumn("ts", col("ts").cast("timestamp")))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.io.Jdbc.writeEpochIdempotent(batch.withColumn("batch_id", lit(batchId)),
            conn, "rollup_eight", batchId, maxConnections = Some(1))
        }
        .outputMode("append")
    }
    val resumedFrom = lastBatch(chk)
    assert(pinnedPartitions(chk, resumedFrom) === 8)

    shipTo(src, "b2", ev.filter(col("ts") >= split))
    EventStream.hourlyRollupToJdbc(spark, src, conn, "rollup_eight", chk)
    assert(lastBatch(chk) > resumedFrom)
    assert((resumedFrom + 1 to lastBatch(chk)).map(pinnedPartitions(chk, _)).toSet === Set(8))
    val sunk = rollupTable(conn, "rollup_eight")
    val twin = finalizedRollup(ev)
    assert(sunk.exceptAll(twin).isEmpty && twin.exceptAll(sunk).isEmpty)
  }

  test("writeEpochIdempotent: a replayed micro-batch converges to one copy") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tmpDir("epochs")
    val conn = graft.io.JdbcConn(s"jdbc:derby:$root/db;create=true")
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v").withColumn("batch_id", lit(0L))
    graft.io.Jdbc.writeEpochIdempotent(b0, conn, "epoch_t", 0L, Some(1))
    graft.io.Jdbc.writeEpochIdempotent(b0, conn, "epoch_t", 0L, Some(1)) // replay
    val b1 = Seq((3L, "c")).toDF("k", "v").withColumn("batch_id", lit(1L))
    graft.io.Jdbc.writeEpochIdempotent(b1, conn, "epoch_t", 1L, Some(1))
    val rows = graft.io.Jdbc.read(spark, conn, "epoch_t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows === Set((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L)),
      "replay left exactly one copy of batch 0; batch 1 untouched")
  }

  test("streaming trending sketch (no-evict capacity) matches the exact batch counts") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val streamed = EventStream.trendingPropsAvailableNow(spark, sf)
    val batch = graft.core.Tables.events(spark, sf)
      .select(col("event_type"),
        from_json(col("props"), "k BIGINT", Map.empty[String, String])
          .getField("k").cast("string").as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("event_type"), col("term"))
      .agg(count(lit(1)).as("est_count"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-stream join matches its batch twin exactly") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val streamed = EventStream.purchaseClickJoinAvailableNow(spark, sf)
    val ev = graft.core.Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("ts").as("cts"))
    val batch = p.join(c,
        col("cu") === col("user_id") &&
          col("cts") >= col("pts") - expr("INTERVAL 10 MINUTES") &&
          col("cts") <= col("pts"))
      .select(col("purchase_id"), col("user_id"), col("click_id"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming PSI monitor equals the batch PSI of the same cohorts") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val streamed = EventStream.psiMonitorAvailableNow(spark, sf).head
    // batch twin: identical bucket/cohort arithmetic from one static read
    val cut = lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    val counts = graft.core.Tables.events(spark, sf)
      .select(floor(col("value") / 10.0).cast("long").as("bucket"),
        when(col("ts") < cut, lit("ref")).otherwise(lit("cur")).as("cohort"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("cohort") === "ref", 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("cohort") === "cur", 1L).otherwise(0L)).as("n_cur"))
    val batch = graft.ops.Statistics.psiFromCounts(counts).head
    assert(streamed === batch, "stream-counted and batch-counted PSI are identical")
    assert(streamed.getDouble(0) >= 0.0)
  }

  /** The streaming-upsert exactly-once contract: two drains over one durable
    * checkpoint (the second must resume, not reprocess), then a FULL
    * REDELIVERY of the first batch (at-least-once failure mode) — the merge
    * condition's monotonicity must make the replay a no-op, leaving the
    * table equal to the batch latest-per-user twin throughout.
    */
  test("upsertLatestToTable: two drains resume, redelivery is a no-op by monotonicity") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val root = tmpDir("upsertlatest")
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val base = s"$root/table"; val chk = s"$root/chk"

    val ev = graft.core.Tables.events(spark, sf)
    def ship(name: String, batch: org.apache.spark.sql.DataFrame): Unit = {
      batch.coalesce(1).write.parquet(s"$root/stage")
      val part = new java.io.File(s"$root/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(src, s"$name.parquet"))
      graft.core.Scratch.delete(s"$root/stage")
    }
    def twin(upTo: org.apache.spark.sql.DataFrame) = upTo
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "ts", "event_type", "value", "props")
    def state() = graft.io.VersionedTable.snapshot(spark, base)
      .select("user_id", "event_id", "ts", "event_type", "value", "props")
    // each merge rewrites its touched group and its inserts as one group
    def liveGroups() = graft.io.VersionedTable.snapshot(spark, base)
      .select(regexp_extract(input_file_name(), "/(groups/[^/]+)/", 1)).distinct().count()

    val split = "2024-01-16 12:00:00"
    val b1 = ev.filter(col("ts") < lit(split).cast("timestamp_ntz"))
    val b2 = ev.filter(col("ts") >= lit(split).cast("timestamp_ntz"))

    // each micro-batch persists its per-user fold; none may outlive a drain
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    def noBatchLeftCached() =
      assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(persisted),
        "a drain left a persisted micro-batch behind")

    ship("b1", b1)
    EventStream.upsertLatestToTable(spark, src, base, chk)
    noBatchLeftCached()
    assert(state().exceptAll(twin(b1)).isEmpty && twin(b1).exceptAll(state()).isEmpty)
    assert(liveGroups() === 1L, "drain 1 leaves one live group")

    ship("b2", b2)
    EventStream.upsertLatestToTable(spark, src, base, chk)
    noBatchLeftCached()
    assert(state().exceptAll(twin(ev)).isEmpty && twin(ev).exceptAll(state()).isEmpty)
    assert(liveGroups() === 1L, "drain 2 leaves one live group")

    // redeliver ALL of b1 under a new name: every row compares not-newer
    // than what the table already holds, so the merge must be a no-op
    ship("b1_redelivered", b1)
    EventStream.upsertLatestToTable(spark, src, base, chk)
    assert(state().exceptAll(twin(ev)).isEmpty && twin(ev).exceptAll(state()).isEmpty)
    assert(liveGroups() === 1L, "drain 3 leaves one live group")

    // every user of b2 is already in b1, so no drain above inserted; a batch
    // with newer events of known users AND first events of new users still
    // lands its rewrite and its inserts as one group
    val b3 = b2.withColumn("ts", col("ts") + expr("INTERVAL 1 DAY"))
      .unionByName(b2.withColumn("user_id", col("user_id") + 1000000L))
    ship("b3", b3)
    EventStream.upsertLatestToTable(spark, src, base, chk)
    val all = ev.unionByName(b3)
    assert(state().exceptAll(twin(all)).isEmpty && twin(all).exceptAll(state()).isEmpty)
    assert(liveGroups() === 1L, "drain 4 leaves one live group")
  }

  /** The production alert form of the PSI monitor: three drains over one
    * durable checkpoint. Drain 1 ships in-distribution data (PSI 0 — no
    * alert), drain 2 ships a shifted distribution (alert fires once), drain 3
    * ships further drifted data (the alarm stays latched — still exactly one
    * alert row). The counts store must equal the batch bucket counts of
    * everything shipped, proving the update-mode upsert resumed (not
    * recounted) across restarts.
    */
  test("psiAlertToTable: alert-once across three drains, counts equal the batch twin") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val root = tmpDir("psialert")
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val chk = s"$root/chk"; val store = s"$root/store"

    val ev = graft.core.Tables.events(spark, sf).select(col("value"))
    val ref = ev
      .select(floor(col("value") / 10.0).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_ref"))

    def ship(name: String, batch: org.apache.spark.sql.DataFrame): Unit = {
      batch.coalesce(1).write.parquet(s"$root/stage")
      val part = new java.io.File(s"$root/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(src, s"$name.parquet"))
      graft.core.Scratch.delete(s"$root/stage")
    }
    val full = graft.core.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    def alerts(): Array[org.apache.spark.sql.Row] = {
      val fs = new java.io.File(s"$store/alerts").listFiles()
      if (fs == null || !fs.exists(_.getName.endsWith(".parquet")))
        Array.empty
      else spark.read.parquet(s"$store/alerts").collect()
    }

    // drain 1: the reference distribution itself — identical histograms, PSI 0
    ship("b1", full)
    EventStream.psiAlertToTable(spark, src, ref, store, chk)
    assert(alerts().isEmpty, "in-distribution drain must not alert")

    // drain 2: every value shifted 5× — disjoint buckets, PSI far above 0.25
    ship("b2", full.withColumn("value", col("value") * 5.0))
    EventStream.psiAlertToTable(spark, src, ref, store, chk)
    val afterSecond = alerts()
    assert(afterSecond.length == 1, "first crossing fires exactly one alert")
    assert(afterSecond.head.getAs[Double]("psi") >= 0.25)

    // drain 3: still drifting — the alarm stays latched, no duplicate row
    ship("b3", full.withColumn("value", col("value") * 10.0))
    EventStream.psiAlertToTable(spark, src, ref, store, chk)
    assert(alerts().length == 1, "latched alarm does not re-fire")

    // ACK: truncating the alerts table re-arms the alarm (the documented
    // pager-ack contract); the next drifted drain fires exactly once again
    graft.core.Scratch.delete(s"$store/alerts")
    ship("b4", full.withColumn("value", col("value") * 20.0))
    EventStream.psiAlertToTable(spark, src, ref, store, chk)
    assert(alerts().length == 1, "re-armed alarm fires once on the next crossing")

    // the counts store equals the batch (day, bucket) counts of all four
    // shipments — keyed by event-time day since the horizon change
    val counts = graft.io.VersionedTable.snapshot(spark, s"$store/counts")
    val twin = full.select(col("ts"), col("value"))
      .union(full.select(col("ts"), col("value") * 5.0))
      .union(full.select(col("ts"), col("value") * 10.0))
      .union(full.select(col("ts"), col("value") * 20.0))
      .select(window(col("ts"), "1 day").getField("start").as("win"),
        floor(col("value") / 10.0).cast("long").as("bucket"))
      .groupBy(col("win"), col("bucket")).agg(count(lit(1)).as("n_cur"))
    assert(counts.exceptAll(twin).isEmpty && twin.exceptAll(counts).isEmpty)
  }

  test("psiAlertToTable: trailing horizon keeps sensitivity after a long clean history") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val root = tmpDir("psidilute")
    val src = s"$root/src"; Files.createDirectories(Paths.get(src))
    val chk = s"$root/chk"; val store = s"$root/store"

    val full = graft.core.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    val ref = full
      .select(floor(col("value") / 10.0).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_ref"))
    def ship(name: String, batch: org.apache.spark.sql.DataFrame): Unit = {
      batch.coalesce(1).write.parquet(s"$root/stage")
      val part = new java.io.File(s"$root/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(src, s"$name.parquet"))
      graft.core.Scratch.delete(s"$root/stage")
    }
    def alertCount(): Int = {
      val fs = new java.io.File(s"$store/alerts").listFiles()
      if (fs == null || !fs.exists(_.getName.endsWith(".parquet"))) 0
      else spark.read.parquet(s"$store/alerts").count().toInt
    }

    // a month of clean traffic (1000 rows, Jan 2024)
    ship("hist", full)
    EventStream.psiAlertToTable(spark, src, ref, store, chk)
    assert(alertCount() == 0, "clean history must not alert")

    // late-onset drift: a SMALL fully-drifted batch (1% of history mass)
    // two months later — the all-time cumulative mixture barely moves, but
    // recent traffic is 100% drifted
    val drifted = full.filter(col("event_id") % 100 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 60 DAYS"))
      .withColumn("value", col("value") + 100000.0)
    ship("drift", drifted)
    EventStream.psiAlertToTable(spark, src, ref, store, chk)
    assert(alertCount() == 1,
      "trailing-horizon PSI sees only the drifted recent days and fires")

    // counter-factual: the cumulative (all-windows) score over the SAME
    // store stays under threshold — the dilution the horizon exists to beat
    val allTime = graft.io.VersionedTable.snapshot(spark, s"$store/counts")
      .groupBy(col("bucket")).agg(sum(col("n_cur")).as("n_cur"))
    val cumulative = graft.ops.Statistics.psiFromCounts(
      ref.join(allTime, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur")))
      .head.getDouble(0)
    assert(cumulative < 0.25,
      s"cumulative scoring would have missed this drift (psi=$cumulative)")
  }

  test("streaming A/B monitor reproduces the batch readout row exactly") {
    val sf = "/root/testdata/sf0.001"
    val stream = EventStream.abMonitorAvailableNow(spark, sf).collect()
    val batch = graft.ops.Experiment.abTest(spark, sf).collect()
    assert(stream.length === 1 && batch.length === 1)
    assert(stream.head === batch.head,
      "the drained per-user state must feed the identical statistical readout")
  }

  test("streaming funnel reproduces the batch sessionized funnel row for row") {
    val sf = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val stream = SessionStream.funnelAvailableNow(spark, sf).collect()
      .map(r => key(r) -> r.toSeq).toMap
    val batch = graft.ops.Events.sessionFunnel(spark, sf).collect()
      .map(r => key(r) -> r.toSeq).toMap
    assert(stream.nonEmpty)
    assert(stream.keySet === batch.keySet, "same viewing sessions")
    stream.foreach { case (k, row) =>
      assert(row === batch(k), s"session $k: stream and batch funnel disagree")
    }
  }
}
