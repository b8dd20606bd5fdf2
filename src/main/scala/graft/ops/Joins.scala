package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join shapes Spark lacks as built-ins — as-of and range joins — composed
  * from existing operators (extension ladder tier (a), SURVEY §7.3): no custom
  * plan nodes needed, and the compositions have the scale behavior a native
  * implementation would want.
  */
object Joins {

  /** As-of join: for each left row, the LATEST right row with the same key and
    * time STRICTLY BEFORE the left row's time (the "most recent prior state"
    * lookup — quotes-before-trade, last-login-before-purchase…).
    *
    * Shape: union both sides, one window over (key, time) carrying the right
    * payload forward — a single shuffle on the key, merge-like within
    * partitions, never a per-row subquery or a time-theta join (which would be
    * O(n·m) per key). The right side must be unique per (key, time); callers
    * aggregate first (see the q47 usage), because "latest of several equal
    * times" is not a deterministic contract any engine can hash-check.
    *
    * `payload` columns are returned as `asof_<name>`, null when no prior right
    * row exists. The payload travels as ONE struct per right row, so the
    * result is row-atomic — all `asof_*` values come from the same (latest
    * prior) right row, including that row's own nulls; per-column carries
    * would stitch together values from different right rows.
    *
    * Null times: right rows with a null time are dropped (they are "before"
    * nothing), left rows with a null time get null payloads (they have no
    * defined prior) — pinned on both engines via NULLS FIRST ordering.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame = {

    val leftCols = left.columns.toSeq
    val payloadStruct = struct(payload.map(col): _*)
    val rStructType = right.select(payloadStruct).schema.head.dataType
    val lSide = left
      .withColumn("__is_l", lit(1))
      .withColumn("__asof", lit(null).cast(rStructType))
    val rSide = leftCols.foldLeft(
      right.filter(col(rightTime).isNotNull)
        .select(col(rightKey).as(leftKey), col(rightTime).as(leftTime),
          lit(0).as("__is_l"), payloadStruct.as("__asof"))) { (df, c) =>
        if (df.columns.contains(c)) df
        else df.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }

    // at equal times, left rows sort FIRST (is_l desc) so they cannot see a
    // same-instant right row — that is what makes the join strict
    val w = Window.partitionBy(col(leftKey))
      .orderBy(col(leftTime).asc_nulls_first, col("__is_l").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.unionByName(rSide)
      .withColumn("__asof", last(col("__asof"), ignoreNulls = true).over(w))
      .filter(col("__is_l") === 1)
      .select((leftCols.map(col) ++
        payload.map(c => col("__asof").getField(c).as(s"asof_$c"))): _*)
  }

  /** q47 driver: each event matched to the same user's most recent PRIOR
    * click (the classic attribution lookup). The right side pre-aggregates to
    * one click per (user, instant) so the as-of contract is deterministic.
    */
  def eventPrevClick(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val ev = graft.core.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
    asofJoin(ev, clicks, "user_id", "user_id", "ts", "ts", Seq("click_id"))
  }

  /** q48 driver: parts classified into retail-price bands via the banded
    * range join (bucket width deliberately ≠ band width to exercise interval
    * explosion).
    */
  def partPriceBands(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      (0, 900.0, 905.0), (1, 905.0, 910.0), (2, 910.0, 915.0), (3, 915.0, 920.0))
      .toDF("band_id", "lo", "hi")
    bandedRangeJoin(
      graft.core.Tables.part(spark, sfDir).select(col("p_partkey"), col("p_retailprice")),
      "p_retailprice", bands, "lo", "hi", bucket = 2.5)
      .select(col("p_partkey"), col("p_retailprice"), col("band_id"), col("lo"), col("hi"))
  }

  /** Bloom-filter semi-join reduction: build a Bloom filter over the build
    * side's join keys, broadcast it as a literal, and prune the probe side
    * BEFORE its shuffle — the classic semi-join reduction for selective
    * shuffle joins where the build side is too large to broadcast-hash-join
    * but its key *bloom* (a few MB of bits) is not. False positives are
    * eliminated by the real join that follows, so the result is exactly the
    * plain join's (the oracle checks equality, not "approximately fewer
    * rows").
    *
    * The membership probe is Spark's own native
    * `BloomFilterMightContain` expression (the one AQE's runtime row-level
    * filtering injects) over a binary literal — codegen'd, no UDF — and the
    * filter sits between the probe scan and its exchange, so at 100 TB the
    * shuffle carries only rows whose key might match instead of the whole
    * fact table. `graft.plans` PlanSpec-style shape: Filter(might_contain)
    * below the probe-side Exchange.
    *
    * The build side pays one extra scan to aggregate the filter
    * (`df.stat.bloomFilter` is a distributed treeAggregate, not a collect of
    * keys) — worth it exactly when the reduction removes more shuffle volume
    * than the scan costs, i.e. selective dims against wide facts.
    */
  def bloomPrunedJoin(probe: DataFrame, probeKey: String,
      build: DataFrame, buildKey: String,
      expectedKeys: Long, fpp: Double = 0.01): DataFrame =
    bloomPrefilter(probe, probeKey, build, buildKey, expectedKeys, fpp)
      .join(build, col(probeKey) === col(buildKey))

  /** The probe-side reduction stage of [[bloomPrunedJoin]], exposed so tests
    * can measure the pruning itself (survivors = true matches + the bounded
    * false-positive tail) instead of only the post-join result.
    */
  private[graft] def bloomPrefilter(probe: DataFrame, probeKey: String,
      build: DataFrame, buildKey: String,
      expectedKeys: Long, fpp: Double): DataFrame = {
    val bf = build.stat.bloomFilter(buildKey, expectedKeys, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bytes, org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(probeKey))))
    probe.filter(mightContain)
  }

  /** q88 instantiation: urgent-priority orders as the build side against the
    * lineitem fact. The filter is sized from an EXACT count of the build side
    * (one cheap dim-side job before the bloom aggregate): an oversized filter
    * only lowers its false-positive rate, but an UNDERSIZED one saturates —
    * realized fpp → 1, the probe filter passes everything, and the "reduction"
    * pays the build scan for zero pruning, which is precisely the failure
    * mode at the 100 TB design point a hardcoded constant would hit.
    */
  def urgentLineitems(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val dim = graft.core.Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val fact = graft.core.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    // the count + treeAggregate are construction-time Spark jobs; memoized per
    // (session, dataset) so plan-only consumers (PlanSpec, repeated verify
    // construction) pay the two build-side jobs exactly once
    val bytes = graft.core.Memo(bloomBytesCache, "bloom_bytes", spark, sfDir)(_ => ()) {
      val expected = math.max(1024L, dim.count())
      val bf = dim.stat.bloomFilter("o_orderkey", expected, 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bytes, org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("l_orderkey"))))
    fact.filter(mightContain)
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("o_orderpriority"), col("o_totalprice"))
  }

  private val bloomBytesCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), Array[Byte]]

  /** Banded range join: left rows matched to right intervals
    * `[lo, hi)` containing `valueCol`. Equi-join on bucket indices of width
    * `bucket` (intervals explode to every bucket they touch), exact residual
    * after — candidate pairs are bounded by interval-width/bucket instead of
    * |left|×|right| the theta join would enumerate. Over-covered edge buckets
    * are harmless: the residual predicate is exact, so bucketing only affects
    * candidate volume, never the result.
    */
  def bandedRangeJoin(left: DataFrame, valueCol: String,
      right: DataFrame, loCol: String, hiCol: String,
      bucket: Double): DataFrame = {
    val lb = left.withColumn("__bucket", floor(col(valueCol) / bucket).cast("long"))
    val rb = right.withColumn("__bucket",
      explode(sequence(
        floor(col(loCol) / bucket).cast("long"),
        floor(col(hiCol) / bucket).cast("long"))))
    lb.join(rb, Seq("__bucket"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("__bucket")
  }
}
