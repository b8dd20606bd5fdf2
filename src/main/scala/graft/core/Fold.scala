package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Write-side facts taken from the execution that produces them. A row count
  * or a column's min/max read back with a second query costs a Spark job per
  * fact; observed through `Dataset.observe`, it arrives with the action that
  * runs anyway. Observed metrics are Spark's own: under task retry each
  * partition's contribution counts once, which a hand-made accumulator does
  * not promise.
  */
object Fold {

  /** Run `action` over `df` observed by the named `metrics`, and return its
    * result with the metrics' values, keyed by name.
    *
    * `action` must execute `df`'s plan as its own SQL execution: a
    * `localCheckpoint`, a `collect`, a parquet write. Spark's JDBC writer is
    * not one: it executes `df.rdd` as a separate execution, so the
    * observation completes with each metric's initial value (a count reads
    * 0), neither the row count nor a timeout.
    */
  def observed[T](df: DataFrame, metrics: Column*)(action: DataFrame => T): (T, Map[String, Any]) = {
    val obs = Observation()
    val out = action(df.observe(obs, metrics.head, metrics.tail: _*))
    (out, obs.get)
  }

  /** `df` folded once into an eager local checkpoint, with its row count
    * read from the checkpoint's own job. Unlike `persist()`, the checkpoint's
    * job runs under AQE, which coalesces shuffles to the data's size, so a
    * write from the fold makes right-sized files. Release the frame with
    * [[release]].
    */
  def apply(df: DataFrame): (DataFrame, Long) = {
    val (folded, m) = observed(df, count(lit(1)).as("rows"))(_.localCheckpoint(eager = true))
    (folded, m("rows").asInstanceOf[Long])
  }

  /** Drop the blocks behind a `localCheckpoint`ed frame. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
}
