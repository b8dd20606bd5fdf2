package graft.ops

import graft.SparkSpec

/** Physical-layout plan audits: the properties that make q139/q140 scale —
  * a bucketed join with NO exchange on either side, and a partitioned scan
  * whose partition filter is injected at RUNTIME from the dim side (dynamic
  * partition pruning). The oracle gate proves both are invisible in the
  * results; these tests prove the layout actually paid off in the plan.
  */
class LayoutSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("bucketed co-located join runs with zero shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = Layout.bucketedJoinSpec(spark, sf).queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join, got:\n$p")
      assert(!p.contains("Exchange"),
        "both sides are bucketed 8-ways on the key: the shuffle was paid at write time")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed join result equals the plain join") {
    val bucketed = Layout.bucketedOrderRevenue(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    val li = graft.core.Tables.lineitem(spark, sf)
    val ord = graft.core.Tables.orders(spark, sf)
    val plain = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(org.apache.spark.sql.functions.col("o_orderpriority"))
      .agg(
        graft.core.Num.sum4(graft.core.Num.revenue).as("revenue"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_items"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    assert(bucketed.toSeq === plain.toSeq)
  }

  test("a same-basename copy and a rewritten table are bucketed from their own rows") {
    import org.apache.spark.sql.functions.{col, sum}
    def nItems(sfDir: String): Long = Layout.bucketedOrderRevenue(spark, sfDir)
      .agg(sum("n_items")).head.getLong(0)
    val d = datasetCopy(sf, "layout-copy")
    try {
      assert(nItems(sf) === graft.core.Tables.lineitem(spark, sf).count())
      rewriteTable(d, "lineitem")(_.filter(col("l_linenumber") === 1))
      val filtered = graft.core.Tables.lineitem(spark, d).count()
      assert(nItems(d) === filtered, "the copy is answered from its own lineitem")
      val older = Layout.bucketedNames(d)
      rewriteTable(d, "lineitem")(_.filter(col("l_linenumber") === 1 && col("l_quantity") < 25))
      val refiltered = graft.core.Tables.lineitem(spark, d).count()
      assert(refiltered < filtered)
      assert(nItems(d) === refiltered, "the rewritten lineitem is re-bucketed")
      assert(!spark.catalog.tableExists(older._1) && !spark.catalog.tableExists(older._2),
        "re-bucketing drops the older content's tables")
    } finally {
      val (li, ord) = Layout.bucketedNames(d)
      Seq(li, ord).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.core.Scratch.delete(new java.io.File(d).getParent)
    }
  }

  test("hot-type scan carries a dynamic partition pruning filter") {
    val p = Layout.dppHotTypeStats(spark, sf).queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the fact scan's partition filter must be injected at runtime, got:\n$p")
  }
}
