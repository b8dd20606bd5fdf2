package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

package streaming {

  /** Test access to the streaming-private drain paths. */
  object DrainProbe {

    /** One complete-mode aggregate over the staged events table, drained
      * into a memory table under a fresh checkpoint.
      */
    def eventTypeCounts(spark: SparkSession, sfDir: String): DataFrame =
      Drain.toMemoryTable(spark,
        Staged.stream(spark, sfDir, "events").groupBy("event_type").count(),
        "complete", "codegen_probe")

    /** The value of `key` in the session a running drain hands to its
      * micro-batches.
      */
    def batchSessionConf(spark: SparkSession, sfDir: String, checkpoint: String,
        key: String): String = {
      val seen = new AtomicReference[String]
      Drain.run(spark, checkpoint) {
        Staged.stream(spark, sfDir, "events").writeStream
          .foreachBatch((batch: DataFrame, _: Long) => seen.set(batch.sparkSession.conf.get(key)))
      }
      seen.get
    }
  }
}

package core {

  import graft.etl.Metrics
  import graft.ops.{Dedup, Events, Relational, Statistics}
  import graft.streaming.DrainProbe

  /** A warm op compiles nothing it compiled before: [[SessionFactory]] sizes
    * Spark's codegen cache to the engine's working set and turns artifact
    * isolation off, so every session's tasks run under one class loader.
    *
    * Compiles are counted with `CodegenMetrics`, whose counter is JVM-wide.
    * Only this suite's work falls in a counting window: suites run one at a
    * time in the forked test JVM (sbt's `testForkedParallel` is off), the
    * tests of a suite run one after another, and no streaming query of an
    * earlier test may still be running when a window opens.
    */
  class CodegenCacheSpec extends SparkSpec {

    private val sf = "/root/testdata/sf0.001"
    private val Isolation = "spark.sql.artifact.isolation.enabled"

    /** Classes Janino compiled while `body` ran, with `body`'s result. */
    private def compiles[T](body: => T): (Long, T) = {
      assert(spark.streams.active.isEmpty, "a streaming query is running")
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, out)
    }

    /** The analyst mix's eleven query builders. */
    private val mix: Seq[(SparkSession, String) => DataFrame] = Seq(
      Metrics.customerMonthly, Metrics.salesIncentive,
      Relational.pricingRollup, Relational.windowShowcase, Relational.topOrderPerCustomer,
      Events.conversionFunnel, Events.retentionCohorts, Events.sessionize,
      Statistics.quantileTable(_, _), Relational.zOrderedParts, Dedup.minhashSignatures)

    test("a third pass of the analyst mix compiles no class") {
      def pass(): Long = compiles(mix.foreach(q => q(spark, sf).collect()))._1
      val first = pass()
      val second = pass()
      val third = pass()
      info(s"compiles per pass: $first, $second, $third")
      assert(third === 0L)
    }

    test("a second drain of the same aggregate compiles no class") {
      val (first, a) = compiles(DrainProbe.eventTypeCounts(spark, sf))
      val (n, b) = compiles(DrainProbe.eventTypeCounts(spark, sf))
      info(s"compiles per drain: $first, $n")
      assert(n === 0L)
      assert(b.collect().toSet === a.collect().toSet)
    }

    test("every session runs without artifact isolation: the factory's, newSession() and a drain's") {
      assert(spark.conf.get(Isolation) === "false")
      assert(spark.newSession().conf.get(Isolation) === "false")
      val chk = Files.createTempDirectory("codegen-isolation").toString
      try assert(DrainProbe.batchSessionConf(spark, sf, chk, Isolation) === "false")
      finally Scratch.delete(chk)
    }

    test("no source file adds a session artifact") {
      // with isolation off, an artifact one session adds is visible to all
      val walk = Files.walk(Paths.get(sys.props("user.dir"), "src", "main"))
      val offenders =
        try walk.iterator().asScala
          .filter(p => Files.isRegularFile(p) && Files.readString(p).contains(".addArtifact"))
          .toList
        finally walk.close()
      assert(offenders.isEmpty, s"session artifacts added in: ${offenders.mkString(", ")}")
    }
  }
}
