package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Shared AvailableNow→memory-sink drain for the bounded streaming demos.
  *
  * Two knobs that round-7 profiling showed dominate drain wall time (q60 ran
  * 50 s solo for a 46-row result; state-store COMMIT summed to 267 s of task
  * time):
  *
  *  - **State partitions.** `spark.sql.shuffle.partitions` at query start
  *    fixes the state-store count for the query's lifetime; a symmetric hash
  *    join carries 4 stores per partition, so 32 partitions = 128 store
  *    commits per micro-batch for drains whose whole state is ~10^4 rows.
  *    The drain scopes the conf to `statePartitions` (default 8) around
  *    `.start()` — right-sized to the demo state volume. This is explicitly
  *    the per-deployment parallelism knob: a production stream holding 10^8
  *    keys sets hundreds, and the value is pinned in the checkpoint from the
  *    first start (repartitioning state needs offline state rewriting), so
  *    size it for peak state up front.
  *
  *  - **Checkpoint medium.** These memory-sink drains are ephemeral by
  *    construction — the checkpoint is discarded at `stop()`, so fsync
  *    durability buys nothing — and per-store delta commits to a disk-backed
  *    /tmp were the measured bottleneck. The drain checkpoints to a
  *    RAM-backed scratch (`/dev/shm` when writable, else java.io.tmpdir) and
  *    deletes it after. Durable checkpoints are the contract of the
  *    restartable forms ([[SessionStream.idleCloseDrain]], [[CsvStreamIngest]],
  *    [[EventStream.trendingToParquet]]), which take an explicit caller-owned
  *    checkpoint dir instead.
  */
private[streaming] object Drain {

  /** Set a session conf for the duration of `body`, restoring the prior
    * value. Serialized on the session: streaming confs are read at query
    * START, so the scope pins the value to exactly the queries started
    * inside `body` — see [[SessionStream]]'s provider scoping for caveats.
    */
  def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T =
    spark.synchronized {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try body finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }

  /** A unique scratch checkpoint dir on the fastest ephemeral medium. */
  private def ephemeralCheckpoint(): Path = {
    val shm = Paths.get("/dev/shm")
    val base = if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Paths.get(sys.props("java.io.tmpdir"))
    Files.createTempDirectory(base, "graft-ckpt-")
  }

  /** Drain `ds` to completion (AvailableNow) into a memory sink and return
    * the accumulated table. The caller's post-processing runs as a plain
    * batch query on the returned frame, OUTSIDE the scoped conf.
    */
  def toMemoryTable(spark: SparkSession, ds: Dataset[_], mode: String,
      namePrefix: String, statePartitions: Int = 8): DataFrame = {
    val name = s"${namePrefix}_${System.nanoTime()}"
    val ckpt = ephemeralCheckpoint()
    try {
      withConf(spark, "spark.sql.shuffle.partitions", statePartitions.toString) {
        val q = ds.writeStream
          .format("memory").queryName(name)
          .option("checkpointLocation", ckpt.toString)
          .outputMode(mode)
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
      }
    } finally graft.core.Scratch.delete(ckpt.toString)
    spark.table(name)
  }
}
