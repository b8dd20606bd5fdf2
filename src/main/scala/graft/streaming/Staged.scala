package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Scratch, Tables}

/** The one way a dataset's table is opened as a stream. The streaming file
  * source reads a DIRECTORY and a dataset table is a single parquet file, so
  * table `name` of `sfDir` is staged once per dataset content
  * ([[Scratch.once]], sub-area `name`) and read back with the batch table's
  * own schema.
  */
private[streaming] object Staged {

  /** The batch table: events through [[Tables.events]] (its ts normalization
    * to microsecond TIMESTAMP_NTZ, which a file source cannot apply), every
    * other table through [[Tables.load]]. Both resolve the schema once per
    * session and table content, so asking for it starts no Spark job.
    */
  private def batch(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, name)

  /** The staged directory copy of table `name` of `sfDir`. */
  def dir(spark: SparkSession, sfDir: String, name: String): String =
    Scratch.once(name, sfDir)(batch(spark, sfDir, name).write.parquet(_))

  /** Table `name` of `sfDir` as a stream over its staged copy. */
  def stream(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.readStream.schema(batch(spark, sfDir, name).schema).parquet(dir(spark, sfDir, name))
}
