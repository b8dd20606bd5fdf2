package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.core.Tables

/** Streaming CSV ingest — the Spark-native subsumption of the reference's whole
  * staging-ledger control plane (SURVEY §2.9): `readStream` over the drop
  * directory with `Trigger.AvailableNow` and a checkpoint gives exactly-once
  * FILE-granularity processing for free. The checkpoint's file log plays the
  * role of `staging_table` (C4/C5/C6), crash recovery falls out of sink
  * atomicity + source offsets (C1), and re-delivered files are simply never
  * re-read. The explicit [[graft.ledger.Ledger]] remains for deployments that
  * need the audit table itself; this is the path a new system should take.
  */
object CsvStreamIngest {

  /** Drain everything currently in `srcDir` into the parquet sink exactly
    * once, tracked by `checkpointDir`. Calling again after new files land
    * processes ONLY the new files.
    */
  def drain(spark: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String, schema: StructType): Unit = {
    val q = spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(srcDir)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Oracle-checkable wrapper: fresh scratch, one drain of the lineitem CSV
    * drop, read the sink back — must equal the source table exactly.
    */
  def ingestLineitemAvailableNow(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val root = graft.core.Scratch.fresh("stream_ingest", sfDir)
    val src = graft.ops.Relational.csvCopyOfLineitem(spark, sfDir)
    drain(spark, src, s"$root/out", s"$root/chk", Tables.lineitemSchema)
    spark.read.schema(Tables.lineitemSchema).parquet(s"$root/out")
  }
}
