package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Streaming twin of the q194 daily-anomaly alarm over the ORDERS feed —
  * the monitor shape a revenue pipeline actually deploys: orders arrive
  * continuously, and the only state the stream keeps is ONE row per day
  * (order count + exact DECIMAL(18,2) revenue sum) — never the orders.
  * The trailing-window z tail then runs batch-side on the drained |days|
  * frame through the SHARED [[graft.ops.Statistics.anomaliesFromDaily]]
  * (identical trees), so the query is hash-gated against q194's oracle
  * VERBATIM — the fourth batch/stream parity instance (q163 PSI, q246
  * funnel, q255 sweep).
  */
object OrderStream {

  def dailyAnomalyAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Staged.stream(spark, sfDir, "orders")
    val daily = orders
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("t"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_orders"), sum(col("t")).as("tot"))
    graft.ops.Statistics.anomaliesFromDaily(
      Drain.toMemoryTable(spark, daily, "complete", "graft_stream_daily"))
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
    val orders = Staged.stream(spark, sfDir, "orders")
    val daily = orders
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("t"))
      .groupBy(col("day")).agg(sum(col("t")).as("tot"))
    val finalDaily = Drain.toMemoryTable(spark, daily, "complete", "graft_stream_rdaily")
      .select(col("day"), (col("tot") * 100).cast("long").as("total_cents"))
    graft.ops.Statistics.robustFromDaily(finalDaily)
  }
}
