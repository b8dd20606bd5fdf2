package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec

/** [[Drain.run]] is the one start site of a streaming query and scopes its
  * confs to the query's `start()`: the query keeps them (its offset log pins
  * them), the session gets its own values back, also when `start()` fails,
  * and two drains on one session run at the same time.
  */
class DrainSpec extends SparkSpec {

  test("two drains on one session run at the same time, each pinning its own conf") {
    import spark.implicits._
    val root = tmpDir("drains")
    Seq(1L, 2L, 3L).toDF("k").coalesce(1).write.parquet(s"$root/src")
    val schema = StructType(Seq(StructField("k", LongType)))
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    // each drain's only batch waits for the other's: both finish only if the
    // two queries run at once
    val both = new CountDownLatch(2)
    def drain(i: Int): Unit =
      Drain.run(spark, s"$root/chk$i", "spark.sql.shuffle.partitions" -> s"${i + 2}") {
        spark.readStream.schema(schema).parquet(s"$root/src").writeStream
          .foreachBatch { (_: DataFrame, _: Long) =>
            both.countDown()
            if (!both.await(60, TimeUnit.SECONDS))
              throw new IllegalStateException(s"drain $i ran alone")
          }
      }
    val pool = Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.sequence(Seq(Future(drain(1)), Future(drain(2)))), 3.minutes)
    } finally pool.shutdown()
    assert(both.getCount === 0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === prior)
    for (i <- Seq(1, 2)) {
      val entry = new String(Files.readAllBytes(Paths.get(root, s"chk$i", "offsets", "0")), "UTF-8")
      assert(entry.contains(s""""spark.sql.shuffle.partitions":"${i + 2}""""), entry)
    }
  }

  test("a drain whose start() throws propagates the error and restores the session's confs") {
    val root = tmpDir("drainfail")
    spark.range(3).coalesce(1).write.parquet(s"$root/src")
    val schema = StructType(Seq(StructField("id", LongType)))
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    // complete mode needs a streaming aggregation: start() refuses this query
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Drain.run(spark, s"$root/chk", "spark.sql.shuffle.partitions" -> "7") {
        spark.readStream.schema(schema).parquet(s"$root/src")
          .writeStream.format("memory").queryName("drain_fails").outputMode("complete")
      }
    }
    assert(err.getMessage.toLowerCase.contains("complete"), err.getMessage)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === prior)
    assert(!spark.streams.active.exists(_.name == "drain_fails"))
  }

  test("no source file outside Drain.scala sets a trigger, a checkpoint or drains a query") {
    val needles = Seq(".trigger(", ".processAllAvailable(", "\"checkpointLocation\"")
    val walk = Files.walk(Paths.get(sys.props("user.dir"), "src", "main"))
    val offenders =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "Drain.scala")
        .filter(p => needles.exists(Files.readString(p).contains))
        .toList
      finally walk.close()
    assert(offenders.isEmpty, s"a second drain start path in: ${offenders.mkString(", ")}")
  }
}
