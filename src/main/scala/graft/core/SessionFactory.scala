package graft.core

import org.apache.spark.sql.SparkSession

/** One place to build a correctly-configured session — the engine's analogue
  * of the reference's `get_spark_session` (`/root/reference/src/utils/
  * utility.py:27-49`), minus its hard-coded credentials and with the settings
  * that make results reproducible across any degree of parallelism:
  *
  *  - UTC session timezone: timestamp↔NTZ conversions (see [[Tables.events]])
  *    are wall-clock identity, and every entry point agrees with the oracle.
  *  - explicit shuffle partitions: sized by the caller to the machine (32 on
  *    the local test box, thousands on a cluster) instead of the 200 default.
  *  - AQE stays ON (Spark 4 default): runtime coalescing and skew-join
  *    splitting are part of the scale story; nothing here pins plans.
  *
  * Correctness never depends on these knobs — money aggregation is exact
  * decimal ([[Num]]) precisely so that partitioning is a pure performance
  * choice.
  */
object SessionFactory {

  def local(cores: Int, appName: String = "graft"): SparkSession =
    configure(
      SparkSession.builder().master(s"local[$cores]")
        // managed tables (the bucketed-layout surface, ops.Layout) land in
        // the scratch area, not ./spark-warehouse in the cwd root
        .config("spark.sql.warehouse.dir", s"${Scratch.root}/warehouse"),
      cores, appName)

  /** For cluster use: master/deploy config comes from spark-submit; only the
    * engine's own settings are applied.
    */
  def configure(builder: SparkSession.Builder, shufflePartitions: Int,
      appName: String): SparkSession = {
    val spark = builder
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // INT64 TIMESTAMP(NANOS) parquet loads as its raw long, which
      // Tables.events normalizes; set here once so that reading a table never
      // writes session state another query could observe
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Commit algorithm 2: task commit renames straight into the destination,
      // so committing a many-partition write parallelizes across tasks instead
      // of serializing through the driver's job commit (v1 walks every
      // partition directory one rename at a time — minutes at 10k dirs).
      // Tradeoff: a job that dies mid-commit can leave partial output; the
      // pipeline's run-stamped paths + ledger make reruns safe (SURVEY §2.10).
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // file:// permission writes without fork/exec: Hadoop's shell-chmod
      // fallback costs ~130ms CPU per created file/dir on a big-heap JVM —
      // see graft.io.NioLocalFileSystem (measured: a 2000-dir partitioned
      // write burned 259 CPU-s in /bin/chmod forks). Local-FS only; HDFS/S3A
      // schemes are untouched.
      .config("spark.hadoop.fs.file.impl", "graft.io.NioLocalFileSystem")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
