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

  private def safe(sfDir: String): String =
    java.nio.file.Paths.get(sfDir).getFileName.toString.replace('.', '_')

  private[graft] def bucketedNames(sfDir: String): (String, String) =
    (s"lineitem_bkt_${safe(sfDir)}", s"orders_bkt_${safe(sfDir)}")

  /** Write lineitem + orders as managed parquet tables bucketed 8-ways on
    * the join key (sorted within buckets). Memoized per catalog: the
    * in-memory catalog forgets tables across JVMs, so a fresh session pays
    * one rewrite — a deployment with a persistent metastore pays it once
    * ever, which is the point.
    */
  private def ensureBucketed(spark: SparkSession, sfDir: String): Unit = synchronized {
    val (li, ord) = bucketedNames(sfDir)
    if (!spark.catalog.tableExists(li)) {
      dropStaleLocation(spark, li)
      Tables.lineitem(spark, sfDir).write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").mode("overwrite").saveAsTable(li)
    }
    if (!spark.catalog.tableExists(ord)) {
      dropStaleLocation(spark, ord)
      Tables.orders(spark, sfDir).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .format("parquet").mode("overwrite").saveAsTable(ord)
    }
  }

  /** The in-memory catalog forgets managed tables across JVMs while their
    * warehouse directories persist; saveAsTable then refuses the "orphaned"
    * location (LOCATION_ALREADY_EXISTS). A table the catalog does not know
    * is by definition stale here — remove its directory before rewriting.
    */
  private def dropStaleLocation(spark: SparkSession, table: String): Unit = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    graft.core.Scratch.delete(s"$wh/$table")
  }

  /** q139: revenue per order priority over the bucketed join. Both sides are
    * bucketed 8-ways on the key, so the join plan has no Exchange below it —
    * the shuffle was paid at write time. The aggregation after the join
    * still shuffles (5 groups), which is the cheap direction: rows into 5
    * groups, not rows onto rows.
    */
  def bucketedOrderRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    ensureBucketed(spark, sfDir)
    val (liName, ordName) = bucketedNames(sfDir)
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
    ensureBucketed(spark, sfDir)
    val (liName, ordName) = bucketedNames(sfDir)
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
