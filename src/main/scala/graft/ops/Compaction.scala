package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** Small-file compaction — the lakehouse `OPTIMIZE` maintenance operator.
  * Streaming ingest and fine-grained partitioned writes (q32's 1.5k-dir
  * mart, the per-trigger files of the streaming sinks) fragment a table into
  * files far below the scan-efficient size; at 100 TB the resulting
  * per-file open/footer overhead and undersized row groups dominate scan
  * time, so periodic compaction is as much a part of the pipeline as the
  * queries themselves.
  *
  * Design: the byte budget is a DRIVER METADATA decision (one file listing —
  * no data moves through the driver), the rewrite is a `coalesce` — a
  * partition-merge with NO shuffle: each output task concatenates whole
  * input splits, so the rewrite cost is one read+write pass, network-free.
  * Clustering the data while compacting is the separate z-order writer
  * (q93); this operator is pure layout repair and preserves arrival order.
  */
object Compaction {

  /** Data files of a parquet directory with sizes (driver metadata only). */
  private[ops] def dataFiles(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString, s.getLen))
  }

  /** Compact `srcDir` into at most ⌈totalBytes / targetBytes⌉ files at
    * `outDir`. Returns the byte-budget bin count — an UPPER bound on the
    * output file count: the parquet scan itself packs small files up to
    * `maxPartitionBytes` per split, so the coalesce may start from fewer
    * partitions than bins (fewer, larger files — never a violation of the
    * budget's intent).
    */
  def compact(spark: SparkSession, srcDir: String, outDir: String,
      targetBytes: Long): Int = {
    val total = dataFiles(spark, srcDir).map(_._2).sum
    val bins = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(srcDir).coalesce(bins)
      .write.mode("overwrite").parquet(outDir)
    bins
  }

  /** The q115 correctness surface: fragment lineitem into 64 undersized
    * files once per scale factor (deterministic scratch, like the streaming
    * events dir), compact back to the byte budget, and return the compacted
    * table's content — the oracle is the source table itself, so the gate
    * proves the rewrite is lossless. File-count/size invariants are pinned
    * by CompactionSpec.
    */
  def compactedLineitem(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val root = graft.core.Scratch.once("compact", sfDir) { d =>
      Tables.lineitem(spark, sfDir).repartition(64).write.parquet(s"$d/fragmented")
    }
    val frag = s"$root/fragmented"
    val total = dataFiles(spark, frag).map(_._2).sum
    compact(spark, frag, s"$root/compacted", targetBytes = math.max(1L, total / 4))
    spark.read.parquet(s"$root/compacted")
  }
}
