package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{Num, Tables}

/** Physical data layout as a first-class operator surface: bucketing (the
  * pre-shuffled join) and partition-directory layout with dynamic partition
  * pruning (the runtime-pruned scan).
  *
  * The reference reads plain CSV/JDBC and re-shuffles on every join
  * (`/root/reference/src/transform/transform.py` joins inferred frames ad
  * hoc); at 100 TB the shuffle IS the cost, so the scale-native answer is to
  * pay it ONCE at write time and never again:
  *
  *  - Bucketing hash-partitions a table into a fixed number of buckets on
  *    the join key at write time. Two tables bucketed the same way join with
  *    ZERO exchange on either side — the nightly re-join of fact tables
  *    becomes a streaming-merge of co-located files. [[bucketedJoinSpec]]
  *    (LayoutSpec) pins the no-exchange property.
  *  - Partitioning by a low-cardinality column turns predicates on it into
  *    directory pruning; DYNAMIC partition pruning extends that to join
  *    predicates whose value set is only known at runtime (the dim side's
  *    filter result), skipping fact partitions before any fact bytes are
  *    read.
  */
object Layout {

  /** `<basename>_<hash of the canonical path>` of the dataset's
    * [[graft.core.Scratch.dir]], as a catalog identifier.
    */
  private def datasetKey(sfDir: String): String =
    new java.io.File(graft.core.Scratch.dir("bucketed", sfDir)).getName
      .toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9]", "_")

  /** Catalog names of the dataset's bucketed copies: its [[datasetKey]] plus
    * its content [[graft.core.Scratch.stamp]], so a same-basename dataset or
    * a rewritten table never reads another's buckets.
    */
  private[graft] def bucketedNames(sfDir: String): (String, String) = {
    val key = s"${datasetKey(sfDir)}_${graft.core.Scratch.stamp(sfDir)}"
    (s"lineitem_bkt_$key", s"orders_bkt_$key")
  }

  /** Write lineitem + orders as managed parquet tables bucketed 8-ways on
    * the join key (sorted within buckets) and return their names. Memoized
    * per catalog and dataset content: the in-memory catalog forgets tables
    * across JVMs, so a fresh session pays one rewrite — a deployment with a
    * persistent metastore pays it once per content, which is the point.
    */
  private def ensureBucketed(spark: SparkSession, sfDir: String): (String, String) =
    synchronized {
      val (li, ord) = bucketedNames(sfDir)
      if (!(spark.catalog.tableExists(li) && spark.catalog.tableExists(ord))) {
        dropBucketed(spark, sfDir)
        Tables.lineitem(spark, sfDir).write
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .format("parquet").mode("overwrite").saveAsTable(li)
        Tables.orders(spark, sfDir).write
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .format("parquet").mode("overwrite").saveAsTable(ord)
      }
      (li, ord)
    }

  /** Drop every bucketed table of the dataset, whatever its stamp, and the
    * warehouse dirs of those an earlier JVM's in-memory catalog forgot
    * (saveAsTable refuses such an "orphaned" location).
    */
  private def dropBucketed(spark: SparkSession, sfDir: String): Unit = {
    val ours = s"(lineitem|orders)_bkt_${datasetKey(sfDir)}_[0-9a-f]+".r
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val known = spark.catalog.listTables().collect().map(_.name)
    val onDisk = Option(new java.io.File(wh).list()).getOrElse(Array.empty[String])
    (known ++ onDisk).distinct.filter(ours.matches).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.core.Scratch.delete(s"$wh/$t")
    }
  }

  /** q139: revenue per order priority over the bucketed join. Both sides are
    * bucketed 8-ways on the key, so the join plan has no Exchange below it —
    * the shuffle was paid at write time. The aggregation after the join
    * still shuffles (5 groups), which is the cheap direction: rows into 5
    * groups, not rows onto rows.
    */
  def bucketedOrderRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val (liName, ordName) = ensureBucketed(spark, sfDir)
    val li = spark.table(liName)
    val ord = spark.table(ordName)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        Num.sum4(Num.revenue).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** The bucketed-join frame WITHOUT aggregation, with broadcasting disabled
    * — exposed for LayoutSpec, which pins that the join itself contains no
    * shuffle exchange (a broadcast would also avoid the exchange, but for
    * the wrong, dim-sized reason; at 100 TB neither side broadcasts).
    */
  private[graft] def bucketedJoinSpec(spark: SparkSession, sfDir: String): DataFrame = {
    val (liName, ordName) = ensureBucketed(spark, sfDir)
    val li = spark.table(liName)
    val ord = spark.table(ordName)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(col("l_orderkey"), col("o_orderpriority"))
  }

  /** Events laid out as partition directories by `event_type` (staged once
    * per dataset — one partitioned rewrite, then every reader prunes).
    */
  private def partitionedEventsPath(spark: SparkSession, sfDir: String): String =
    graft.core.Scratch.once("events_by_type", sfDir) {
      Tables.events(spark, sfDir).write.partitionBy("event_type").parquet(_)
    }

  /** The "hot" event types: average value above 50, decided by EXACT decimal
    * sums so both engines select the identical set (a double-sum average
    * this close to its threshold could flap on summation order).
    */
  private def hotTypes(events: DataFrame): DataFrame =
    events.groupBy(col("event_type").as("ht_type"))
      .agg(sum(col("value").cast(DecimalType(25, 10))).as("sv"), count(lit(1)).as("cnt"))
      .filter(col("sv") > col("cnt").cast(DecimalType(25, 10)) * 50)
      .select(col("ht_type"))

  /** q140: per-type stats over only the hot event types, read from the
    * partitioned layout. The hot set exists only at runtime (it is an
    * aggregate of the same table), so static pruning can't help — dynamic
    * partition pruning injects the broadcasted dim values into the fact
    * scan's partition filter and the cold types' directories are never
    * opened. LayoutSpec pins the dynamicpruning expression in the plan; the
    * oracle pins that pruning is invisible in the result.
    */
  def dppHotTypeStats(spark: SparkSession, sfDir: String): DataFrame = {
    val path = partitionedEventsPath(spark, sfDir)
    val fact = spark.read.parquet(path)
    fact.join(hotTypes(Tables.events(spark, sfDir)),
        fact("event_type") === col("ht_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        Num.sum4(col("value")).as("sum_value"))
  }
}
