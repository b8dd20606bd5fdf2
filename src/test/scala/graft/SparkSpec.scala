package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate → one context per
  * forked test JVM), built by the same [[graft.core.SessionFactory]] as the
  * Verify and benchmark entry points so tests and the gate share one
  * configuration.
  */
object SparkSpec {
  lazy val spark: SparkSession = graft.core.SessionFactory.local(4, "graft-test")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  /** A writable copy of the dataset at `sfDir`: same basename, fresh parent. */
  def datasetCopy(sfDir: String, prefix: String): String = {
    val src = java.nio.file.Paths.get(sfDir)
    val dst = java.nio.file.Paths.get(tmpDir(prefix)).resolve(src.getFileName)
    java.nio.file.Files.createDirectories(dst)
    graft.core.Tables.names.foreach { t =>
      java.nio.file.Files.copy(src.resolve(s"$t.parquet"), dst.resolve(s"$t.parquet"))
    }
    dst.toString
  }

  /** Replace table `name` of the dataset at `sfDir` by `f` of its rows. */
  def rewriteTable(sfDir: String, name: String)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val path = java.nio.file.Paths.get(sfDir, s"$name.parquet")
    val staged = java.nio.file.Paths.get(sfDir, s"_rewrite_$name")
    f(spark.read.parquet(path.toString)).write.parquet(staged.toString)
    graft.core.Scratch.delete(path.toString)
    java.nio.file.Files.move(staged, path)
  }
}
