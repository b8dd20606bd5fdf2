package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming twin of the q194 daily-anomaly alarm over the ORDERS feed —
  * the monitor shape a revenue pipeline actually deploys: orders arrive
  * continuously, and the only state the stream keeps is ONE row per day
  * (order count + exact DECIMAL(18,2) revenue sum) — never the orders.
  * The trailing-window z tail then runs batch-side on the drained |days|
  * frame through the SHARED [[graft.ops.Statistics.anomaliesFromDaily]]
  * (identical trees), so the query is hash-gated against q194's oracle
  * VERBATIM — the fourth batch/stream parity instance (q163 PSI, q246
  * funnel, q255 sweep).
  *
  * Update-mode re-emissions only ever GROW a day's count and (all-positive
  * prices) its sum, so the per-day max over the drained memory sink is the
  * final state — the q246/q255 monotonicity argument.
  */
object OrderStream {

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))

  /** The streaming file source needs a DIRECTORY; the testdata table is a
    * single parquet file — stage a stable per-dataset copy once (the
    * [[ScoreStream.docsDir]] pattern).
    */
  private[streaming] def ordersDir(spark: SparkSession, sfDir: String): String =
    graft.core.Scratch.once("orders", sfDir)(graft.core.Tables.orders(spark, sfDir).write.parquet(_))

  def dailyAnomalyAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = spark.readStream.schema(ordersSchema)
      .parquet(ordersDir(spark, sfDir))
    val daily = orders
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("t"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_orders"), sum(col("t")).as("tot"))
    val drained = Drain.toMemoryTable(spark, daily, "update", "graft_stream_daily")
    val finalDaily = drained.groupBy(col("day"))
      .agg(max(col("n_orders")).as("n_orders"), max(col("tot")).as("tot"))
    graft.ops.Statistics.anomaliesFromDaily(finalDaily)
  }

  /** Streaming twin of q318's ROBUST (median/MAD) daily alarm — the SIXTH
    * batch/stream parity instance. Same one-row-per-day state shape as
    * [[dailyAnomalyAvailableNow]]: the stream keeps only the exact per-day
    * DECIMAL revenue sum, and the robust tail runs batch-side on the drained
    * |days| frame through the SHARED
    * [[graft.ops.Statistics.robustFromDaily]] — hash-gated against q318's
    * oracle VERBATIM. cents = sum(price)·100 equals q318's sum(price·100)
    * exactly because the ×100 rescale distributes over the exact DECIMAL sum.
    */
  def robustDailyAnomalyAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = spark.readStream.schema(ordersSchema)
      .parquet(ordersDir(spark, sfDir))
    val daily = orders
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("t"))
      .groupBy(col("day")).agg(sum(col("t")).as("tot"))
    val drained = Drain.toMemoryTable(spark, daily, "update", "graft_stream_rdaily")
    val finalDaily = drained.groupBy(col("day"))
      .agg(max(col("tot")).as("tot"))
      .select(col("day"), (col("tot") * 100).cast("long").as("total_cents"))
    graft.ops.Statistics.robustFromDaily(finalDaily)
  }
}
