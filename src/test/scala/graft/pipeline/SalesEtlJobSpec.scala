package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.ledger.JdbcLedger

/** End-to-end orchestration at sf0.001: quarantine, idempotent re-delivery,
  * crash recovery (C1), and the cached-enrichment data path all in one place.
  */
class SalesEtlJobSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def setup(): (String, PipelineConfig, JdbcLedger, mutable.Map[String, Long]) = {
    val root = tmpDir("pipe")
    val inputDir = s"$root/input"
    Files.createDirectories(Paths.get(inputDir))
    val csvDir = graft.ops.Relational.csvCopyOfLineitem(spark, sf)
    new java.io.File(csvDir).listFiles().filter(_.getName.endsWith(".csv")).foreach { f =>
      Files.copy(f.toPath, Paths.get(inputDir, f.getName))
    }
    Files.writeString(Paths.get(inputDir, "drop.txt"), "wrong type")
    val cfg = PipelineConfig(
      inputDir = inputDir,
      stagingBase = s"$root/staging",
      martBase = s"$root/marts",
      sfDir = sf,
      runId = "r1",
      runDate = java.time.LocalDate.of(2026, 1, 1))
    val metricRows = mutable.Map.empty[String, Long]
    (root, cfg, JdbcLedger.derby(s"$root/ledger"), metricRows)
  }

  private def metricSink(rows: mutable.Map[String, Long]): (DataFrame, String) => Unit =
    (df, table) => rows(table) = df.count()

  test("one run: quarantines wrong types, writes marts, flips ledger to COMPLETED") {
    val (root, cfg, ledger, metricRows) = setup()
    val report = SalesEtlJob.run(spark, cfg, ledger, metricSink(metricRows))

    assert(report.validFiles.nonEmpty)
    assert(report.wrongTypeFiles.map(f => Paths.get(f).getFileName.toString) == Seq("drop.txt"))
    // quarantined file moved out of input into wrong_files/runId
    assert(Files.exists(Paths.get(s"${cfg.stagingBase}/wrong_files/r1/drop.txt")))
    // processed files archived out of the input dir
    assert(!Files.list(Paths.get(cfg.inputDir)).iterator().hasNext)
    assert(Files.exists(Paths.get(s"${cfg.stagingBase}/processed/r1")))
    // marts on disk, partitioned layout for the sales mart
    assert(Files.exists(Paths.get(report.customerMartPath, "_SUCCESS")))
    assert(Files.list(Paths.get(report.salesMartPath)).iterator().hasNext)
    // both metric tables written through the sink
    assert(metricRows("customer_monthly_purchase") == report.customerMetricRows)
    assert(metricRows("sales_team_incentive") == report.incentiveRows)
    assert(report.customerMetricRows > 0 && report.incentiveRows > 0)
    // ledger: everything COMPLETED, nothing inflight
    val names = report.validFiles.map(f => Paths.get(f).getFileName.toString)
    assert(ledger.completed(names) == names)
    assert(ledger.inflight(names).isEmpty)
  }

  test("re-delivered batch is skipped (C4) and the run reports no work") {
    val (_, cfg, ledger, metricRows) = setup()
    val report = SalesEtlJob.run(spark, cfg, ledger, metricSink(metricRows))

    // re-deliver the same files
    val processedDir = s"${cfg.stagingBase}/processed/r1"
    new java.io.File(processedDir).listFiles().foreach { f =>
      Files.copy(f.toPath, Paths.get(cfg.inputDir, f.getName))
    }
    val again = intercept[NoWorkException] {
      SalesEtlJob.run(spark, cfg.copy(runId = "r2"), ledger, metricSink(metricRows))
    }
    assert(again.getMessage.contains("no files left"))
    // the re-delivered copies were archived to already_processed, not reprocessed
    val archived = new java.io.File(s"${cfg.stagingBase}/already_processed/r2").listFiles()
    assert(archived.map(_.getName).sorted.toSeq ==
      report.validFiles.map(f => Paths.get(f).getFileName.toString).sorted)
  }

  test("unknown leftovers in the work dir are quarantined before processing (C2)") {
    val (root, cfg0, ledger, metricRows) = setup()
    val workDir = s"$root/work"
    Files.createDirectories(Paths.get(workDir))
    Files.writeString(Paths.get(workDir, "leftover.bin"), "who knows")
    val cfg = cfg0.copy(workDir = Some(workDir))
    SalesEtlJob.run(spark, cfg, ledger, metricSink(metricRows))
    assert(Files.exists(Paths.get(s"${cfg.stagingBase}/unknown/r1/leftover.bin")))
    assert(!Files.exists(Paths.get(workDir, "leftover.bin")))
  }

  test("a file stuck in START from a crashed run aborts the next run (C1)") {
    val (_, cfg, ledger, metricRows) = setup()
    val firstCsv = new java.io.File(cfg.inputDir).listFiles()
      .map(_.getName).filter(_.endsWith(".csv")).sorted.head
    ledger.insertStart(Seq(firstCsv), cfg.inputDir, cfg.runDate)

    val ex = intercept[IllegalStateException] {
      SalesEtlJob.run(spark, cfg, ledger, metricSink(metricRows))
    }
    assert(ex.getMessage.contains("START"))
  }

  test("with a real JDBC sink, each report count equals the rows its table holds") {
    val (root, cfg, ledger, _) = setup()
    val conn = graft.io.JdbcConn(s"jdbc:derby:$root/metrics_db;create=true")
    val report = SalesEtlJob.run(spark, cfg, ledger,
      (df, table) => graft.io.Jdbc.write(df, conn, table, maxConnections = Some(1)))
    def rowsIn(table: String): Long = {
      val c = java.sql.DriverManager.getConnection(conn.url)
      try {
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next()
        rs.getLong(1)
      } finally c.close()
    }
    assert(report.customerMetricRows > 0 && report.incentiveRows > 0)
    assert(report.customerMetricRows === rowsIn("customer_monthly_purchase"))
    assert(report.incentiveRows === rowsIn("sales_team_incentive"))
  }
}
