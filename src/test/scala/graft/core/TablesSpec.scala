package graft.core

import org.apache.spark.sql.functions.{col, lit, sum}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.SparkSpec

/** A table's schema is resolved once per (session, table content): a repeat
  * load starts no Spark job, and a rewritten table, a same-basename copy and
  * another session each resolve their own.
  */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def misses: Long = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("schema", 0L)
  private def hits: Long = Memo.counterSnapshot(Memo.cacheHits).getOrElse("schema", 0L)

  test("a repeat load in a session starts no Spark job") {
    val session = spark.newSession()
    assert(jobsOf(Tables.lineitem(session, sf)) > 0, "the first load infers the schema")
    val h0 = hits
    assert(jobsOf(Tables.lineitem(session, sf)) === 0)
    assert(hits === h0 + 1)
  }

  test("a rewritten table re-resolves its schema") {
    val d = datasetCopy(sf, "tables-rw")
    try {
      val before = Tables.nation(spark, d)
      assert(!before.columns.contains("n_extra"))
      val n = before.count()
      rewriteTable(d, "nation")(_.withColumn("n_extra", lit(1L)))
      val after = Tables.nation(spark, d)
      assert(after.columns.contains("n_extra"))
      assert(after.agg(sum(col("n_extra"))).head.getLong(0) === n)
    } finally Scratch.delete(new java.io.File(d).getParent)
  }

  test("same-basename copies resolve separate schemas") {
    val a = datasetCopy(sf, "tables-a")
    val b = datasetCopy(sf, "tables-b")
    try {
      assert(new java.io.File(a).getName === new java.io.File(b).getName)
      rewriteTable(b, "nation")(_.withColumn("n_extra", lit(1L)))
      assert(!Tables.nation(spark, a).columns.contains("n_extra"))
      assert(Tables.nation(spark, b).columns.contains("n_extra"))
      assert(!Tables.nation(spark, a).columns.contains("n_extra"))
    } finally Seq(a, b).foreach(d => Scratch.delete(new java.io.File(d).getParent))
  }

  test("a self-join of two loads of one table keeps its column references apart") {
    val n1 = Tables.nation(spark, sf)
    val n2 = Tables.nation(spark, sf)
    val joined = n1.join(n2, n1("n_regionkey") === n2("n_regionkey"))
      .select(n1("n_nationkey"), n2("n_nationkey"))
    val expected = n1.groupBy(col("n_regionkey")).count()
      .agg(sum(col("count") * col("count"))).head.getLong(0)
    assert(joined.count() === expected)
    assert(joined.filter(n1("n_nationkey") === n2("n_nationkey")).count() === n1.count())
  }

  test("each session resolves its own entry") {
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.lineitem(spark, sf).schema("l_shipdate").dataType === TimestampNTZType)
    val m0 = misses
    assert(Tables.lineitem(other, sf).schema("l_shipdate").dataType === TimestampType)
    assert(misses === m0 + 1)
    assert(Tables.lineitem(spark, sf).schema("l_shipdate").dataType === TimestampNTZType)
    assert(misses === m0 + 1)
  }
}
