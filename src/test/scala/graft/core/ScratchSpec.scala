package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.io.IoQueries

/** Staged copies belong to one dataset and follow its content; reading a
  * table leaves session state alone; no path of this checkout is baked in.
  */
class ScratchSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("two datasets with the same basename stage separate copies") {
    val a = datasetCopy(sf, "scratch-a")
    val b = datasetCopy(sf, "scratch-b")
    try {
      rewriteTable(b, "lineitem")(_.filter(col("l_linenumber") === 1))
      val nA = IoQueries.orcRoundtrip(spark, a).count()
      val nB = IoQueries.orcRoundtrip(spark, b).count()
      assert(nA === Tables.lineitem(spark, sf).count())
      assert(nB === Tables.lineitem(spark, b).count())
      assert(nA !== nB)
    } finally Seq(a, b).foreach { d =>
      Scratch.delete(Scratch.dir("orc_rt", d))
      Scratch.delete(new java.io.File(d).getParent)
    }
  }

  test("a rewritten table re-stages its copy") {
    val d = datasetCopy(sf, "scratch-rw")
    try {
      assert(IoQueries.orcRoundtrip(spark, d).count() === Tables.lineitem(spark, sf).count())
      rewriteTable(d, "lineitem")(_.filter(col("l_linenumber") === 1))
      val expected = Tables.lineitem(spark, d).count()
      assert(expected < Tables.lineitem(spark, sf).count())
      assert(IoQueries.orcRoundtrip(spark, d).count() === expected)
    } finally {
      Scratch.delete(Scratch.dir("orc_rt", d))
      Scratch.delete(new java.io.File(d).getParent)
    }
  }

  test("reading the events table sets no session conf") {
    val session = spark.newSession()
    val before = session.conf.getAll
    Tables.events(session, sf).count()
    assert(session.conf.getAll === before)
  }

  test("no source file hard-codes this checkout's location") {
    val needle = "\"/root" + "/repo"
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(sys.props("user.dir"), "src"))
    val offenders =
      try walk.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .filter(p => java.nio.file.Files.readString(p).contains(needle)).toList
      finally walk.close()
    assert(offenders.isEmpty, s"hard-coded checkout path in: ${offenders.mkString(", ")}")
  }
}
