package graft.core

import org.apache.spark.sql.functions.{col, lit, max}

import graft.SparkSpec

/** A fold's row count rides the checkpoint's own job, and an observed write
  * reports its metrics from the write itself.
  */
class FoldSpec extends SparkSpec {

  private def rows = spark.range(0, 1000, 1, 4).withColumn("g", col("id") % 7)
    .groupBy("g").count()

  test("a fold counts its rows in the checkpoint's own jobs") {
    val plain = jobsOf(Fold.release(rows.localCheckpoint(eager = true)))
    var folded: (org.apache.spark.sql.DataFrame, Long) = null
    assert(jobsOf { folded = Fold(rows) } === plain, "the count costs no job")
    val (df, n) = folded
    try assert(n === 7L && df.count() === 7L) finally Fold.release(df)
  }

  test("a fold of an empty frame counts 0") {
    Seq(rows.filter(lit(false)), spark.range(0).toDF(), spark.emptyDataFrame).foreach { empty =>
      val (df, n) = Fold(empty)
      try assert(n === 0L) finally Fold.release(df)
    }
  }

  test("an observed parquet write reports the metrics of the rows it wrote") {
    val out = tmpDir("fold_write") + "/t"
    val (_, m) = Fold.observed(rows, max(col("count")).as("top"))(_.write.parquet(out))
    assert(m("top") === spark.read.parquet(out).agg(max(col("count"))).head.getLong(0))
  }
}
