package graft.pipeline

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.core.Tables
import graft.etl.{Enrich, Marts, Metrics}
import graft.ingest.CsvBatchReader
import graft.io.{ArchiveService, ParquetSink}
import graft.ledger.Ledger

/** The end-to-end ETL orchestrator — the Scala `run_pipeline`
  * (`/root/reference/src/main_1.py:683-829`, SURVEY §3.1), chaining
  *
  *   C1 inflight check → C2 quarantine unknowns → C3 type gate →
  *   C4 idempotency filter → ingest/validate → C5 ledger START →
  *   enrich (cached) → marts (parquet sinks) → metrics (caller's sink) →
  *   C7 archive → C6 ledger COMPLETED.
  *
  * Reference bugs fixed here by design (SURVEY §2.10):
  *  - "nothing left to process" raises [[NoWorkException]] instead of passing
  *    `None` into the validator (`main_1.py:242-247` → crash at `:764`);
  *  - the enriched frame is persisted once and every mart/metric reuses it —
  *    the reference recomputes the scan+join lineage ≥6× (`main_1.py:784-795`);
  *  - metric-write failures propagate (see [[graft.io.Jdbc]]), so the ledger
  *    can never flip to COMPLETED after a half-failed run;
  *  - one run stamp for the whole run (`cfg.runId`), not one `datetime.now()`
  *    per helper call.
  */
final case class PipelineConfig(
    inputDir: String,
    stagingBase: String, // wrong_files/, unknown/, already_processed/, processed/ land under here
    martBase: String,    // customer_mart/, sales_mart/ land under here
    sfDir: String,       // dimension + orders tables (parquet)
    runId: String,
    runDate: java.time.LocalDate,
    workDir: Option[String] = None) // scratch dir swept for unknown leftovers (C2)

final case class RunReport(
    validFiles: Seq[String],
    wrongTypeFiles: Seq[String],
    badSchemaFiles: Seq[String],
    emptyFiles: Seq[String],
    skippedAlreadyProcessed: Seq[String],
    customerMartPath: String,
    salesMartPath: String,
    customerMetricRows: Long,
    incentiveRows: Long)

final class NoWorkException(msg: String) extends RuntimeException(msg)

object SalesEtlJob {

  private def baseName(p: String): String = new Path(p).getName

  /** Run the pipeline once. `writeMetrics(df, tableName)` is the metric sink —
    * JDBC append in production (`graft.io.Jdbc.write(df, conn, table)`), a
    * test-local sink in specs. `onStage(label, seconds)` receives a wall-time
    * split per sequential stage (default no-op) — the benchmark's span
    * hook; the job is inherently sequential, so in-place timing attributes
    * exactly without re-running a prefix of the job.
    */
  def run(
      spark: SparkSession,
      cfg: PipelineConfig,
      ledger: Ledger,
      writeMetrics: (DataFrame, String) => Unit,
      onStage: (String, Double) => Unit = (_, _) => ()): RunReport = {

    def staged[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      onStage(label, (System.nanoTime() - t0) / 1e9)
      r
    }

    val archive = new ArchiveService(spark.sparkContext.hadoopConfiguration)

    // C1: refuse to start over a half-finished previous run.
    val present = archive.list(cfg.inputDir)
    val stuck = staged("c1_inflight")(ledger.inflight(present.map(baseName)))
    if (stuck.nonEmpty)
      throw new IllegalStateException(
        s"previous run left ${stuck.size} file(s) in START state (${stuck.take(3).mkString(", ")}…); " +
          "manual intervention required")

    // C2: leftovers of unknown origin in the work area are quarantined, never
    // silently reprocessed (`main_1.py:89-105`).
    cfg.workDir.foreach { wd =>
      archive.moveInto(archive.list(wd), s"${cfg.stagingBase}/unknown/${cfg.runId}")
    }

    // C3: only CSVs proceed; everything else is quarantined.
    val (csvs, wrongType) = CsvBatchReader.partitionByExtension(present)
    archive.moveInto(wrongType, s"${cfg.stagingBase}/wrong_files/${cfg.runId}")

    // C4: drop files a previous run already completed.
    val done = staged("c4_idempotency")(ledger.completed(csvs.map(baseName)).toSet)
    val (skip, todo) = csvs.partition(f => done.contains(baseName(f)))
    archive.moveInto(skip, s"${cfg.stagingBase}/already_processed/${cfg.runId}")
    if (todo.isEmpty)
      throw new NoWorkException(s"no files left to process in ${cfg.inputDir}")

    // Ingest + validate (P1-P3, U1); bad/empty files quarantined.
    val load = staged("ingest_validate")(CsvBatchReader.validateAndLoad(
      spark, todo, Tables.lineitemSchema.fieldNames.toSeq, Some(Tables.lineitemSchema)))
    archive.moveInto(load.badSchemaFiles, s"${cfg.stagingBase}/wrong_files/${cfg.runId}")
    archive.moveInto(load.emptyFiles, s"${cfg.stagingBase}/wrong_files/${cfg.runId}")
    val fact = load.data.getOrElse(
      throw new NoWorkException("every remaining file failed validation"))

    // C5: evidence in the ledger BEFORE any data write.
    staged("c5_ledger_start")(
      ledger.insertStart(load.validFiles.map(baseName), cfg.inputDir, cfg.runDate))

    // Enrich once, reuse everywhere (marts + both metrics = 4 consumers).
    val enriched = Enrich.enrichedFromFact(
      Enrich.salesFactFrom(fact.drop(CsvBatchReader.AdditionalColumn), spark, cfg.sfDir),
      spark, cfg.sfDir)
      .persist(StorageLevel.MEMORY_AND_DISK)

    try {
      val customerMart = Marts.customerMartFrom(enriched)
      val salesMart = Marts.salesTeamMartFrom(enriched)

      // the first action — pays the CSV scan + enrich materialization too
      val customerMartPath = staged("mart_customer_write")(
        ParquetSink.writeRunStamped(customerMart, s"${cfg.martBase}/customer_mart", cfg.runId))
      val salesMartPath = staged("mart_sales_partitioned_write")(ParquetSink.writePartitioned(
        salesMart, s"${cfg.martBase}/sales_mart", cfg.runId, Seq("sales_month", "store_id")))

      // persisted: each metric is consumed twice (sink + report count) and
      // must not re-aggregate the enriched frame both times
      val customerMetric = Metrics.customerMonthlyFrom(enriched)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val incentive = Metrics.salesIncentiveFrom(enriched)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        staged("metrics_jdbc_write") {
          writeMetrics(customerMetric, "customer_monthly_purchase")
          writeMetrics(incentive, "sales_team_incentive")
        }

        // counts BEFORE the archive step: if a cached partition is lost the
        // recompute still finds its source files; after moveInto the lineage's
        // CSV paths no longer exist
        val customerMetricRows = customerMetric.count()
        val incentiveRows = incentive.count()

        // C7 then C6: archive first, finalize last — a crash between the two
        // leaves START rows, which C1 catches next run (reference order,
        // `main_1.py:620-676`).
        staged("c7_archive")(
          archive.moveInto(load.validFiles, s"${cfg.stagingBase}/processed/${cfg.runId}"))
        staged("c6_ledger_complete")(ledger.markCompleted(load.validFiles.map(baseName)))

        RunReport(
          validFiles = load.validFiles,
          wrongTypeFiles = wrongType,
          badSchemaFiles = load.badSchemaFiles,
          emptyFiles = load.emptyFiles,
          skippedAlreadyProcessed = skip,
          customerMartPath = customerMartPath,
          salesMartPath = salesMartPath,
          customerMetricRows = customerMetricRows,
          incentiveRows = incentiveRows)
      } finally {
        customerMetric.unpersist()
        incentive.unpersist()
      }
    } finally enriched.unpersist()
  }
}
