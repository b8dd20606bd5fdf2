package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** How every bounded (AvailableNow) drain starts, runs and sizes its state.
  * [[run]] is the only place a streaming query starts: it sets the
  * checkpoint and the AvailableNow trigger, starts the query, processes
  * everything available and stops it. A drain hands over its configured
  * writer (sink, output mode, sink options) and nothing else.
  *
  *  - **State partitions are sized to the state, once.** A stateful query
  *    keeps one state store per shuffle partition and commits each of them
  *    every micro-batch, so each partition costs a fixed amount per batch
  *    however few rows it holds. The count is `spark.sql.shuffle.partitions`
  *    at the query's first start; the checkpoint's offset log pins it
  *    (`<chk>/offsets/<n>`) and every restart restores it, so an existing
  *    checkpoint keeps its count and a new one takes the count its drain
  *    sets. The memory-table drain ([[toMemoryTable]]) uses
  *    [[MemoryStatePartitions]] for the demo state volume (~10^4 rows); the
  *    durable drains set theirs at the call site, sized by the bound on
  *    their state (e.g. [[EventStream.hourlyRollupToJdbc]]: one).
  *
  *  - **Confs are scoped to `start()` only.** Spark clones the session when
  *    it constructs the query, inside `start()`; the clone is where the
  *    state-partition count and the state-store provider are read, and the
  *    offset log pins both. [[run]] sets its confs on the caller's session
  *    for the `start()` call alone, under the session's lock, and restores
  *    them before the query processes a row, also when `start()` throws.
  *    Drains therefore run concurrently with each other and with other
  *    queries of the session; only a query planned on the same session
  *    during another drain's `start()` can see its values.
  *
  *  - **Memory-table output modes.** A memory sink in complete mode holds
  *    exactly the latest full result, so every aggregate drain (the rollups,
  *    the per-day, per-score, per-doc and per-cell monitors) drains in
  *    complete mode and its sink IS the final aggregate. Stateless and join
  *    drains (the stream-stream joins, the redelivery dedup, the spine +
  *    hit rows) drain in append mode: each row is emitted once and final.
  *    Only the two keyed-state sessionizers (`flatMapGroupsWithState`,
  *    `transformWithState`) drain in update mode, the one mode besides append
  *    those operators allow; their sink holds every re-emission of a session
  *    and the caller keeps each session's last one.
  *
  *  - **Ephemeral checkpoint medium.** The memory-table drain's checkpoint is
  *    discarded at `stop()`, so fsync durability buys nothing; it lives on a
  *    RAM-backed scratch (`/dev/shm` when writable, else java.io.tmpdir) and
  *    is deleted after. Durable checkpoints are the contract of the
  *    restartable forms ([[SessionStream.idleCloseDrain]], [[CsvStreamIngest]],
  *    [[EventStream.trendingToParquet]]), which take an explicit caller-owned
  *    checkpoint dir instead.
  */
private[streaming] object Drain {

  /** State partitions of every memory-table drain. */
  private val MemoryStatePartitions = 8

  /** Start the query that `writer` configures, checkpointed at `checkpoint`
    * under the AvailableNow trigger, with `confs` set on `spark` for the
    * `start()` call only (see the object doc); then process everything
    * available and stop it.
    */
  def run(spark: SparkSession, checkpoint: String, confs: (String, String)*)(
      writer: => DataStreamWriter[_]): Unit = {
    val q = spark.synchronized {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try writer.option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    try q.processAllAvailable() finally q.stop()
  }

  /** A unique scratch checkpoint dir on the fastest ephemeral medium. */
  private def ephemeralCheckpoint(): Path = {
    val shm = Paths.get("/dev/shm")
    val base = if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Paths.get(sys.props("java.io.tmpdir"))
    Files.createTempDirectory(base, "graft-ckpt-")
  }

  /** Drain `ds` to completion (AvailableNow) into a memory sink and return
    * the accumulated table; `confs` are started with the query alongside its
    * state-partition count. The caller's post-processing runs as a plain
    * batch query on the returned frame.
    */
  def toMemoryTable(spark: SparkSession, ds: Dataset[_], mode: String,
      namePrefix: String, confs: (String, String)*): DataFrame = {
    val name = s"${namePrefix}_${System.nanoTime()}"
    val ckpt = ephemeralCheckpoint()
    try run(spark, ckpt.toString,
        ("spark.sql.shuffle.partitions" -> MemoryStatePartitions.toString) +: confs: _*) {
      ds.writeStream.format("memory").queryName(name).outputMode(mode)
    } finally graft.core.Scratch.delete(ckpt.toString)
    spark.table(name)
  }
}
