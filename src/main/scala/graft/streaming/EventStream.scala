package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** Structured Streaming surface. The reference has no streaming (its
  * "incremental" behavior is the file-granularity staging ledger,
  * `/root/reference/src/staging/staging.py` — SURVEY §2.9); this module is the
  * Spark-native subsumption: `readStream` over a drop directory with
  * `Trigger.AvailableNow` gives exactly-once file-granularity micro-batching
  * with checkpoint-based recovery, replacing the hand-rolled MySQL ledger for
  * the streaming-shaped half of the problem.
  *
  * The memory sink + complete output mode below accumulate state in the driver
  * — appropriate for this bounded AvailableNow demo and its oracle check, NOT
  * for an unbounded production stream. The production shape is the same plan
  * with a watermark (`withWatermark("ts", "2 hours")`), `update`/`append` mode,
  * and a kafka/parquet sink; state then lives in the executors' state store and
  * is bounded by the watermark horizon.
  */
object EventStream {

  /** Post-conversion schema: ts is microsecond TIMESTAMP_NTZ (see
    * [[graft.core.Tables.events]] for the nanos handling).
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** FileStreamSource needs a *directory* (and can't apply the nanos-as-long
    * conversion), so materialize a scratch directory of micro-timestamped
    * events once per scale factor. Deterministic: content derives only from the
    * source parquet.
    */
  private[streaming] def eventsDir(spark: SparkSession, sfDir: String): String =
    graft.core.Scratch.once("events", sfDir)(Tables.events(spark, sfDir).write.parquet(_))

  /** The PRODUCTION shape of the hourly rollup: event-time watermark + append
    * output. Only windows the watermark has passed are emitted (exactly once,
    * final), and executor state is bounded by the watermark horizon instead of
    * growing forever like the complete-mode demo below. Pure streaming
    * transform: plug between `readStream` and any append-mode sink.
    */
  def hourlyRollupWatermarked(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("window.start").as("hour"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming tumbling-hour rollup, run to completion over whatever is in the
    * directory (AvailableNow) and returned as a batch DataFrame. Semantics match
    * [[graft.ops.Events.hourlyRollup]] — the batch query is the oracle contract
    * for this streaming one.
    */
  def hourlyRollupAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = spark.readStream
      .schema(eventsSchema)
      .parquet(eventsDir(spark, sfDir))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
    Drain.toMemoryTable(spark, stream, "complete", "graft_stream_hourly").select(
      col("window.start").as("hour"),
      col("event_type"), col("n_events"), col("total_value"))
  }

  /** Streaming hopping (sliding) windows — the third member of the streaming
    * window family beside tumbling (above) and session (q105's
    * `session_window`): one-hour windows advancing every 15 minutes, so each
    * event updates 4 open windows. Same expression as the batch twin
    * ([[graft.ops.Events.hoppingRollup]], the oracle contract, minus its
    * `countDistinct`, which streaming aggregation cannot hold incrementally
    * — swap in an HLL column for users-per-window at scale). Production form:
    * watermark + append, exactly as [[hourlyRollupWatermarked]].
    */
  def hoppingRollupAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = spark.readStream
      .schema(eventsSchema)
      .parquet(eventsDir(spark, sfDir))
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
    Drain.toMemoryTable(spark, stream, "complete", "graft_stream_hopping").select(
      col("w.start").as("window_start"), col("w.end").as("window_end"),
      col("event_type"), col("n_events"), col("total_value"))
  }

  /** Stream-stream INNER join: every purchase paired with the same user's
    * clicks in the 10 minutes leading up to it — the canonical attribution
    * join, as two live streams rather than stream-vs-static.
    *
    * Scale shape: both sides carry an event-time watermark and the join
    * condition bounds click_ts to a window around purchase_ts, so the state
    * store retains only the watermark horizon per side, keyed (and
    * co-partitioned) by user_id — state is bounded and the join is a hash
    * equi-join per micro-batch, never a replay. Inner joins emit matches as
    * they arrive, so append mode + AvailableNow drains to the complete,
    * deterministic pair set (an OUTER stream-stream join would additionally
    * need the watermark to pass to finalize null-padded rows).
    */
  def purchaseClickJoinAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = eventsDir(spark, sfDir)
    def side(eventType: String): DataFrame = spark.readStream
      .schema(eventsSchema)
      .parquet(dir)
      .filter(col("event_type") === eventType)
    // watermarks require TimestampType (not NTZ); under the UTC session the
    // cast is wall-clock identity, and neither ts reaches the output
    val purchases = side("purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").cast("timestamp").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").cast("timestamp").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("click_user") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 MINUTES") &&
        col("click_ts") <= col("purchase_ts"))
    Drain.toMemoryTable(spark, joined, "append", "graft_stream_join")
      .select(col("purchase_id"), col("user_id"), col("click_id"))
  }

  /** LEFT OUTER stream-stream join — the attribution join that also keeps
    * unconverted purchases. Semantics differ fundamentally from the inner
    * form (q60): matches emit as they arrive, but a NULL-padded row can only
    * emit once the click-side watermark proves no matching click can still
    * arrive, i.e. when the purchase's state is evicted. The drained result is
    * therefore deterministic only BEHIND the final watermark, so the query
    * restricts to purchases ≥ 2 h (> watermark delay + the 10-min join
    * bound) before the stream's max event time — inside that slice every
    * purchase has either its matches or its null padding, exactly once. The
    * horizon scalar rides a broadcast one-row aggregate, not a collect.
    */
  def purchaseClickLeftJoinAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = eventsDir(spark, sfDir)
    def side(eventType: String): DataFrame = spark.readStream
      .schema(eventsSchema)
      .parquet(dir)
      .filter(col("event_type") === eventType)
    val purchases = side("purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").cast("timestamp").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").cast("timestamp").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("click_user") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 MINUTES") &&
        col("click_ts") <= col("purchase_ts"),
      "leftOuter")
    val horizon = Tables.events(spark, sfDir)
      .agg((max(col("ts")) - expr("INTERVAL 2 HOURS")).as("h_ts"))
    Drain.toMemoryTable(spark, joined, "append", "graft_stream_ljoin")
      .crossJoin(broadcast(horizon))
      .filter(col("purchase_ts").cast("timestamp_ntz") <= col("h_ts"))
      .select(col("purchase_id"), col("user_id"), col("click_id"))
  }

  /** Stream-static enrichment: the live event stream joined to the (batch)
    * customer dimension on user_id, then rolled up per (market segment,
    * event type) — the canonical "enrich the stream against a dim table"
    * shape. The static side is re-read per micro-batch (so dim updates are
    * picked up) and BROADCAST: stream-static joins need no state store at
    * all — unlike the stream-stream join, nothing is buffered, because the
    * static side is always completely available. Complete-mode memory sink
    * is the bounded AvailableNow demo form; production swaps in
    * watermark + append exactly like [[hourlyRollupWatermarked]].
    */
  def segmentRollupAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val customers = broadcast(
      Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment")))
    val rollup = spark.readStream
      .schema(eventsSchema)
      .parquet(eventsDir(spark, sfDir))
      .join(customers, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
    Drain.toMemoryTable(spark, rollup, "complete", "graft_stream_segment")
      .select(col("c_mktsegment"), col("event_type"), col("n_events"), col("total_value"))
  }

  /** Streaming trending values: the Misra-Gries heavy-hitters sketch
    * ([[graft.functions.HeavyHittersAgg]]) as a STREAMING aggregate — each
    * micro-batch folds into the ≤ k-counter summary held in the state store,
    * so per-group state is constant-size for the stream's lifetime where an
    * exact `GROUP BY value` would grow with the observed vocabulary. The
    * production shape for "trending terms/items per key" over an unbounded
    * stream.
    *
    * Gated exactly like q87: capacity (128) exceeds the corpus's per-type
    * value vocabulary (100), so the summary never evicts and the drained
    * AvailableNow run must reproduce the batch GROUP BY bit-for-bit — which
    * also proves the sketch's serialize/deserialize round-trip through the
    * state store between micro-batches. Under eviction the same query stays
    * well-defined with the spec-pinned error bounds.
    */
  def trendingPropsAvailableNow(spark: SparkSession, sfDir: String,
      k: Int = 128): DataFrame = {
    val trending = spark.readStream
      .schema(eventsSchema)
      .parquet(eventsDir(spark, sfDir))
      .select(col("event_type"),
        from_json(col("props"), "k BIGINT", Map.empty[String, String])
          .getField("k").cast("string").as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("event_type"))
      .agg(graft.functions.HeavyHittersAgg(col("term"), k).as("hh"))
    Drain.toMemoryTable(spark, trending, "complete", "graft_stream_trending")
      .select(col("event_type"), explode(col("hh")).as("e"))
      .select(col("event_type"), col("e.term").as("term"),
        col("e.est_count").as("est_count"))
  }

  /** PRODUCTION form of [[trendingPropsAvailableNow]]: per-window trending
    * values in APPEND mode under a watermark. Each (hour, event_type)
    * summary is emitted exactly once — when the watermark passes the
    * window — so an append-only sink (parquet/kafka) receives finalized
    * trending tables and the state store holds only windows inside the
    * watermark horizon, each at ≤ k counters. The Misra-Gries buffer
    * round-trips through the state store BETWEEN micro-batches (partials
    * from an early batch merge with later arrivals before the window
    * finalizes), which the spec pins across separate drains.
    */
  def trendingWatermarked(events: DataFrame, watermark: String = "2 hours",
      k: Int = 128): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"),
        from_json(col("props"), "k BIGINT", Map.empty[String, String])
          .getField("k").cast("string").as("term"))
      .filter(col("term").isNotNull)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(graft.functions.HeavyHittersAgg(col("term"), k).as("hh"))
      .select(col("window.start").as("hour"), col("event_type"), col("hh"))

  /** PRODUCTION wiring of [[trendingWatermarked]]: watched source directory →
    * append-only parquet sink with a CALLER-OWNED durable checkpoint (unlike
    * the ephemeral [[Drain]] scratch — restart is the whole point here).
    * Called repeatedly with the same `chk`, each drain resumes the sketch
    * state and file-source offsets from the checkpoint: windows already
    * emitted are never re-emitted, partials for still-open windows merge
    * with the new arrivals, and newly finalized windows land in the sink
    * exactly once. The spec drives two separate drains over a time-split of
    * the real events table and checks the combined sink equals the batch
    * twin — the exactly-once file-sink round-trip contract.
    */
  def trendingToParquet(spark: SparkSession, src: String, out: String,
      chk: String, watermark: String = "2 hours", k: Int = 128): Unit = {
    // watermarks require TimestampType; under the UTC session the cast from
    // NTZ is wall-clock identity and the window boundaries are unchanged
    val events = spark.readStream.schema(eventsSchema).parquet(src)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = trendingWatermarked(events, watermark, k)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** PRODUCTION wiring of [[hourlyRollupWatermarked]] into a TRANSACTIONAL
    * warehouse table: watched directory → watermark-finalized hourly windows
    * → `foreachBatch` → [[graft.io.Jdbc.writeEpochIdempotent]] with a durable
    * caller-owned checkpoint. The batch-id-keyed delete-then-append makes a
    * replayed micro-batch (crash between data write and checkpoint commit)
    * converge to exactly one copy — the exactly-once contract extended from
    * the file sink (trendingToParquet) to a sink that can't join the
    * checkpoint's transaction. Repeated calls with the same `chk` resume
    * offsets and window state; already-emitted windows are never re-emitted.
    */
  def hourlyRollupToJdbc(spark: SparkSession, src: String, conn: graft.io.JdbcConn,
      table: String, chk: String, watermark: String = "2 hours"): Unit = {
    val events = spark.readStream.schema(eventsSchema).parquet(src)
      .withColumn("ts", col("ts").cast("timestamp"))
    // One state partition at any scale. An append-mode batch is evaluated
    // under the previous batch's watermark, so it holds every window it
    // touches until the next (watermark-advance) batch evicts them: open
    // windows ≤ (the batch's event-time span + the watermark horizon) / 1 h,
    // times the event types (15 rows on the benchmark; a backfill drain
    // spanning days holds more, still small). Map-side partial aggregation
    // bounds the state stage's input to (input tasks × open windows × types)
    // rows per batch. A checkpoint started with more partitions keeps its
    // count (Drain's doc).
    Drain.run(spark, "spark.sql.shuffle.partitions" -> "1") {
      hourlyRollupWatermarked(events, watermark)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.io.Jdbc.writeEpochIdempotent(
            batch.withColumn("batch_id", lit(batchId)), conn, table, batchId,
            maxConnections = Some(1))
        }
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
  }

  /** The q114 correctness surface: drain the full events directory through
    * [[hourlyRollupToJdbc]] into a fresh embedded-Derby table, then read the
    * table back over JDBC. The oracle recomputes the rollup from the events
    * table restricted to watermark-finalized windows (end ≤ max ts − 2 h) —
    * stream → foreachBatch → warehouse → JDBC read must be lossless and
    * exactly-once for the hash to match. Restart/replay behavior is pinned by
    * EventStreamSpec; this query exercises the single-drain round trip.
    */
  def hourlyRollupJdbcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val root = graft.core.Scratch.dir("jdbcstream", sfDir)
    graft.ledger.JdbcLedger.shutdownDerby(s"$root/db")
    graft.core.Scratch.delete(root)
    val conn = graft.io.JdbcConn(s"jdbc:derby:$root/db;create=true")
    hourlyRollupToJdbc(spark, eventsDir(spark, sfDir), conn, "hourly_rollup", s"$root/chk")
    graft.io.Jdbc.read(spark, conn, "hourly_rollup")
      .select(col("hour").cast("timestamp_ntz").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** Streaming drift monitor: the live stream's value distribution scored as
    * PSI against a STATIC pre-cutoff reference — the data-quality alarm of
    * [[graft.ops.Statistics.priceDriftPsi]] run as a continuous job. The
    * stream maintains only the per-bucket counts (complete-mode aggregate, a
    * dozen rows of state — batch-boundary-INDEPENDENT by construction, so
    * the result is deterministic however the file source batches); the PSI
    * arithmetic runs on the drained counts through the same shared
    * [[graft.ops.Statistics.psiFromCounts]] the batch alarm uses. NOTE:
    * this demo scores ALL-TIME cumulative counts, whose sensitivity to
    * late-onset drift decays as clean history accumulates (a month of
    * in-distribution traffic dilutes a fully-drifted day to a ~3% histogram
    * move); that dilution is deliberate here — the oracle gates the
    * deterministic cumulative fold — and the production form fixes it:
    * [[psiAlertToTable]] keys the store by event-time day and scores only
    * the trailing horizon, alerting once when the score crosses threshold.
    */
  /** STREAMING EXPERIMENT MONITOR: the per-user purchase counts accumulate
    * in a stateful streaming aggregate (complete mode — the per-user state
    * an experiment dashboard keeps live), and the drained counts feed the
    * EXACT batch readout ([[graft.ops.Experiment.abReadout]]): arms, rates,
    * pooled z, CI. Gated against the SAME oracle SQL as the batch q224 —
    * batch/stream parity of the entire statistical readout, not just the
    * counts. Production swap: `foreachBatch` the readout into a dashboard
    * table on a durable checkpoint; the aggregate state is |users|-bounded.
    */
  def abMonitorAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = spark.readStream
      .schema(eventsSchema)
      .parquet(eventsDir(spark, sfDir))
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purch"))
    val users = Drain.toMemoryTable(spark, counts, "complete", "graft_ab_users")
    graft.ops.Experiment.abReadout(users)
  }

  def psiMonitorAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    val ref = graft.core.Tables.events(spark, sfDir)
      .filter(col("ts") < cut)
      .select(floor(col("value") / 10.0).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_ref"))
    val streamCounts = spark.readStream
      .schema(eventsSchema)
      .parquet(eventsDir(spark, sfDir))
      .filter(col("ts") >= cut)
      .select(floor(col("value") / 10.0).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_cur"))
    val cur = Drain.toMemoryTable(spark, streamCounts, "complete", "graft_psi_counts")
    val counts = ref.join(cur, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    graft.ops.Statistics.psiFromCounts(counts)
  }

  /** PRODUCTION wiring of the PSI drift monitor: watched source directory →
    * per-(event-time-day, bucket) counts in UPDATE mode → `foreachBatch`
    * threshold alarm, with a CALLER-OWNED durable checkpoint (restart is
    * the point — repeated calls with the same `chk` resume offsets and
    * count state). Update mode delivers only (day, bucket) cells whose
    * totals changed this micro-batch, so sink I/O scales with the drift
    * surface, not the histogram; the totals are ABSOLUTE (group-by counts,
    * not deltas), so the keyed upsert into the `$root/counts`
    * [[graft.io.VersionedTable]] is naturally idempotent under micro-batch
    * replay.
    *
    * Scoring is over the TRAILING `horizonDays` of event time only (the
    * days within `horizonDays` of the store's max day): a monitor that
    * scores all-time cumulative counts dilutes late-onset drift under the
    * accumulated in-distribution past and its sensitivity decays with
    * stream age — after a month of clean traffic a fully drifted day moves
    * the cumulative histogram ~3%, far under any useful threshold. The
    * horizon keeps the current-side mass bounded and recent, so the alarm
    * answers "is RECENT traffic drifted", not "has the lifetime mixture
    * drifted". Each batch scores that trailing slice against the static
    * `refCounts` through the same [[graft.ops.Statistics.psiFromCounts]]
    * as the batch alarm and q163's monitor, and appends ONE alert row to
    * `$root/alerts` on the first crossing of `threshold` — alert-once
    * semantics survive both replay (the presence check re-runs before the
    * append) and restarts (the alerts table is the durable "armed" state;
    * re-arm = truncate it, the pager ack). The spec drives four drains
    * over one checkpoint (in-distribution, drifted, latched, ack+re-fire)
    * plus a long-history dilution scenario the horizon must catch.
    */
  def psiAlertToTable(spark: SparkSession, src: String, refCounts: DataFrame,
      root: String, chk: String, threshold: Double = 0.25,
      horizonDays: Int = 7): Unit = {
    val countsBase = s"$root/counts"
    val alertsDir = s"$root/alerts"
    def alerted(): Boolean = {
      val fs = new java.io.File(alertsDir).listFiles()
      fs != null && fs.exists(_.getName.endsWith(".parquet"))
    }
    val streamCounts = spark.readStream.schema(eventsSchema).parquet(src)
      .select(window(col("ts"), "1 day").getField("start").as("win"),
        floor(col("value") / 10.0).cast("long").as("bucket"))
      .groupBy(col("win"), col("bucket")).agg(count(lit(1)).as("n_cur"))
    Drain.run(spark, "spark.sql.shuffle.partitions" -> "8") {
      streamCounts.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (!batch.isEmpty) {
            if (graft.io.VersionedTable.latestVersion(countsBase) < 0)
              graft.io.VersionedTable.append(batch, countsBase)
            else
              graft.io.VersionedTable.merge(spark, countsBase, batch,
                keys = Seq("win", "bucket"),
                updateWhen = Some(lit(true)),
                updateSet = Map("n_cur" -> col("s.n_cur")))
            val store = graft.io.VersionedTable.snapshot(spark, countsBase)
            // trailing-horizon slice: a one-row max-day frame broadcast
            // back onto the store (never a driver-side date compute)
            val maxWin = store.agg(max(col("win")).as("__mx"))
            val cur = store.crossJoin(broadcast(maxWin))
              .filter(col("win") > col("__mx") - expr(s"INTERVAL $horizonDays DAYS"))
              .groupBy(col("bucket")).agg(sum(col("n_cur")).as("n_cur"))
            val joined = refCounts.join(cur, Seq("bucket"), "full_outer")
              .select(col("bucket"),
                coalesce(col("n_ref"), lit(0L)).as("n_ref"),
                coalesce(col("n_cur"), lit(0L)).as("n_cur"))
            val psi = graft.ops.Statistics.psiFromCounts(joined)
              .head.getDouble(0)
            if (psi >= threshold && !alerted()) {
              spark.range(1)
                .select(lit(batchId).as("batch_id"), lit(psi).as("psi"),
                  lit(threshold).as("threshold"))
                .coalesce(1).write.mode("append").parquet(alertsDir)
            }
          }
        }
        .option("checkpointLocation", chk)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
  }

  /** Streaming UPSERT into the lakehouse tier: the event stream folded into
    * a "latest event per user" [[graft.io.VersionedTable]] via per-batch
    * MERGE — the Delta streaming-upsert pattern (foreachBatch + MERGE),
    * closing the loop between the streaming and versioned-table tiers.
    * Exactly-once WITHOUT a transactional sink: the merge condition
    * `s.ts > t.ts OR (s.ts = t.ts AND s.event_id > t.event_id)` is a total
    * order, so re-applying a replayed micro-batch is a no-op (every source
    * row compares not-newer than the row it just installed) — idempotence
    * by monotonicity, where q114 needed batch-id-keyed deletes. Each batch
    * pre-folds to its own per-user latest (one window over the micro-batch,
    * checkpointed for the batch's lifetime) so the MERGE source is
    * |users-in-batch| rows and the batch is scanned once. The CoW merge
    * rewrites only the groups holding those users, together with the batch's
    * new users, as ONE group: a table whose users all live in one group
    * keeps one group however many drains it takes.
    */
  def upsertLatestToTable(spark: SparkSession, src: String, base: String,
      chk: String): Unit = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val stream = spark.readStream.schema(eventsSchema).parquet(src)
    Drain.run(spark, "spark.sql.shuffle.partitions" -> "8") {
      stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val latest = batch
            .withColumn("rn", row_number().over(byUser))
            .filter(col("rn") === 1).drop("rn")
            // read three times below (the emptiness probe, the merge's
            // touched-group collect and the merge itself) and again by a
            // retried optimistic merge: fold the batch once. A local
            // checkpoint, not persist(): its job runs under AQE, which
            // coalesces the window's shuffle to the batch's size, while a
            // cached plan keeps every shuffle partition and the merge then
            // writes a file per partition (measured: 1 -> 8 data files)
            .localCheckpoint(eager = true)
          try if (!latest.isEmpty) {
            if (graft.io.VersionedTable.latestVersion(base) < 0)
              graft.io.VersionedTable.append(latest, base)
            else {
              val newer = col("s.ts") > col("t.ts") ||
                (col("s.ts") === col("t.ts") && col("s.event_id") > col("t.event_id"))
              // mergeOptimistic, not merge: a concurrent writer on the same
              // table (another stream, a batch backfill) must trigger
              // re-resolution against the new snapshot, not abort the
              // micro-batch. The monotone merge condition makes the retried
              // merge land the same final state regardless of interleaving.
              // writerId is unique per IN-FLIGHT commit (uuid suffix); a
              // replayed micro-batch gets a fresh one, so it never clobbers
              // data groups a crashed run already committed.
              graft.io.VersionedTable.mergeOptimistic(spark, base, latest,
                keys = Seq("user_id"),
                updateWhen = Some(newer),
                updateSet = Map(
                  "event_id" -> col("s.event_id"), "ts" -> col("s.ts"),
                  "event_type" -> col("s.event_type"), "value" -> col("s.value"),
                  "props" -> col("s.props")),
                writerId = s"upsert-b$batchId-" +
                  java.util.UUID.randomUUID().toString.take(8))
            }
          } finally graft.ops.Dedup.releaseCheckpoint(latest)
          ()
        }
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
  }

  /** The q176 correctness surface: drain the full events directory through
    * [[upsertLatestToTable]] into a fresh versioned table, then snapshot it.
    * The oracle recomputes each user's latest event (max (ts, event_id))
    * straight from the events table — the streamed fold of merges must land
    * exactly there. Restart/replay is pinned by EventStreamSpec's two-drain
    * scenario.
    */
  def latestEventsUpsertState(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val root = graft.core.Scratch.fresh("upsert_latest", sfDir)
    upsertLatestToTable(spark, eventsDir(spark, sfDir), s"$root/table", s"$root/chk")
    graft.io.VersionedTable.snapshot(spark, s"$root/table")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"))
  }

  /** Streaming dedup under redelivery: the event stream unioned with a full
    * replay of itself (every event delivered twice — the at-least-once
    * delivery failure mode), deduplicated on event_id with
    * `dropDuplicatesWithinWatermark`. State holds only ids inside the
    * watermark horizon, so unlike a batch `distinct` the state store never
    * grows with the stream's lifetime — redeliveries outside the horizon
    * would pass, which is the documented contract (pair it with an idempotent
    * sink for those). The drained result must equal the original table
    * exactly: every duplicate eliminated, no original lost.
    */
  def dedupRedeliveredAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = eventsDir(spark, sfDir)
    def src: DataFrame = spark.readStream
      .schema(eventsSchema)
      .parquet(dir)
      .withColumn("ts_wm", col("ts").cast("timestamp"))
    val redelivered = src.union(src) // two source instances: every event twice
      .withWatermark("ts_wm", "24 hours")
      .dropDuplicatesWithinWatermark("event_id")
    Drain.toMemoryTable(spark, redelivered, "append", "graft_stream_dedup")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
  }
}
