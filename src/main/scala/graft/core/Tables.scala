package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.types._

/** Canonical access to the star-schema tables (TPC-H-ish, see TESTDATA.md).
  *
  * The reference loads its dims over JDBC with inferred types
  * (`/root/reference/src/utils/utility.py:56-60`) and its fact CSVs with
  * `inferSchema` (`/root/reference/src/transform/transform.py:31-34`). Here every
  * table has one canonical parquet location per scale-factor directory and explicit
  * schemas are used wherever text formats are involved (SURVEY §1.2: inference is
  * nondeterministic at scale — one extra pass over 100 TB just to guess types).
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Table `name` of the dataset at `sfDir`, read with its schema declared.
    *
    * A bare `spark.read.parquet` starts one Spark job per call to infer the
    * schema from the footers — in an interactive query that reads five
    * tables, five jobs before the first row. Here the inferred schema is
    * resolved once per (session, table content) through [[Memo.keyed]]: the
    * key is the session reference, the table's canonical path and its
    * [[Scratch.tableStamp]], so a rewritten table re-infers, and a session
    * with other parquet settings (`newSession()`) infers its own. The read
    * itself stays fresh: it lists the files on every call but starts no job.
    *
    * The memo holds a schema, not a plan: a `DataFrame` rebuilt from a cached
    * `LogicalPlan` would carry the same attribute ids on every load, so a
    * query that loads one table twice (a self-join) would make its column
    * references ambiguous. Each declared-schema read gets fresh ids.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = Memo.keyed(schemas, "schema", spark, Scratch.canonical(path),
      Scratch.tableStamp(path, spark.sparkContext.hadoopConfiguration))(_ => ())(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  private val schemas =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), StructType]

  def region(spark: SparkSession, d: String): DataFrame    = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = load(spark, d, "lineitem")

  /** The events table's `ts` encoding has varied across driver data generations:
    * INT64 TIMESTAMP(NANOS) (which Spark 4 refuses to read as a timestamp —
    * PARQUET_TYPE_ILLEGAL) and plain TIMESTAMP(MICROS). Normalize both to a
    * microsecond TIMESTAMP_NTZ by branching on the type Spark actually loaded:
    *
    *  - nanos: read the raw nanos as a long (`spark.sql.legacy.parquet
    *    .nanosAsLong`, which [[SessionFactory]] sets) and truncate with
    *    `div 1000`, matching DuckDB's own ns→µs truncation on the same file
    *    (positive epochs only; pre-1970 would need floor, not div).
    *  - micros (isAdjustedToUTC=false): already loads as TIMESTAMP_NTZ — no-op.
    *  - micros (UTC-adjusted): cast to NTZ, wall-clock identity only under a UTC
    *    session timezone, which [[SessionFactory]] sets for every entry
    *    point.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    val raw = load(spark, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          functions.timestamp_micros(functions.expr("ts div 1000")).cast(TimestampNTZType))
      case TimestampNTZType => raw
      case _ => raw.withColumn("ts", functions.col("ts").cast(TimestampNTZType))
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")

  /** Scan-parallelism floor for operators whose heavy PER-ROW work (gram
    * posexplode, minhash/rolling-hash signatures, chunk build + md5, vector
    * arithmetic) is attached directly to a table scan.
    *
    * Why it exists (r19, measured): each test table ships as ONE parquet row
    * group (documents.parquet = 594 KB / 1 row group at sf0.1), and a row
    * group is not splittable — `spark.sql.files.maxPartitionBytes` /
    * `minPartitionNum` cannot raise the split count past 1 — so every
    * expression pipelined into the scan ran in ONE task while the session's
    * other 31 cores idled (TimeQuery task metrics: q86 solo = 7 tasks,
    * cpu 4.5 s ≈ wall 5.8 s, i.e. sequential). The optimization guide's §2.5
    * prescription for unsplittable inputs: repartition immediately after the
    * read.
    *
    * Scale shape: the repartition fires ONLY when the frame has fewer
    * partitions than the session's parallelism. At the 100 TB design point a
    * corpus scan arrives as thousands of row groups and this is a NO-OP —
    * the text payload is never re-shuffled (§8's anti-pattern); only the
    * bench-scale single-row-group layout pays one small exchange to unlock
    * the other cores. Hash-repartition on the caller's unique row key:
    * deterministic under task retry (keyless round-robin pays a
    * sort-before-repartition and the SPARK-38388 retry hazard) and skew-free
    * for a unique id. Results are unchanged by construction — partitioning
    * is never semantic (the oracle gate sorts rows).
    */
  def spreadScan(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    // streaming relations can't be probed via .rdd (and a micro-batch's
    // partitioning is the source's business) — the shared expression trees
    // that batch/stream parity pairs reuse pass through unchanged
    if (df.isStreaming) return df
    // Narrow-lineage gate, decided on the OPTIMIZED LOGICAL plan (analysis
    // only — nothing executes): a frame carrying any exchange-inducing
    // operator (join, aggregate, window, distinct, sort, repartition)
    // already executes at shuffle parallelism — and, more to the point,
    // probing such a frame via .rdd under AQE MATERIALIZES its upstream
    // query stages just to read a partition count, then the real action
    // re-executes them in a fresh QueryExecution (pay the caller's join
    // twice). The former guard looked for ShuffleExchangeLike in sparkPlan,
    // but EnsureRequirements only inserts join/aggregate/window exchanges
    // into executedPlan, so join-bearing frames slipped past it (r19
    // ADVICE). Only frames whose whole lineage is narrow over leaf
    // relations qualify — for those the .rdd probe is plan conversion, not
    // execution.
    import org.apache.spark.sql.catalyst.plans.logical._
    val wide = df.queryExecution.optimizedPlan.exists {
      case _: LeafNode | _: Project | _: Filter | _: Generate | _: Union |
           _: Sample | _: SubqueryAlias => false
      case _ => true
    }
    if (wide) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    // absolute small-layout cap (r19 ADVICE): on a large cluster a corpus
    // whose scan yields hundreds of splits — but fewer than its thousands of
    // cores — must NOT be re-shuffled wholesale (§8's anti-pattern). Only
    // genuinely narrow layouts (the single-row-group test files, a handful
    // of unsplittable inputs) trip the floor.
    if (df.rdd.getNumPartitions < math.min(p, SpreadSmallCap)) df.repartition(p, key) else df
  }

  /** Partition-count ceiling below which [[spreadScan]] treats a layout as
    * "unsplittably narrow" and worth one re-shuffle to unlock idle cores.
    * 64 ≈ two modern executors' worth of cores: below it the scan cannot
    * keep even a small cluster busy; above it the input is already parallel
    * enough that re-shuffling the payload costs more than the tail it saves.
    */
  private val SpreadSmallCap = 64

  /** Explicit lineitem schema, used by the CSV ingest path (SURVEY §2.1 S1: the
    * reference infers; we declare). Matches the driver parquet exactly.
    */
  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))
}
