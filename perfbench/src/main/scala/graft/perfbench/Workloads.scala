package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Metrics
import graft.io.{Jdbc, JdbcConn, VersionedTable}
import graft.ledger.JdbcLedger
import graft.ops.{Dedup, Events, Relational, Statistics}
import graft.pipeline.{PipelineConfig, SalesEtlJob}
import graft.streaming.EventStream

/** ETL operator: one `SalesEtlJob.run` per fresh CSV drop, closed loop, one
  * client, one persistent Derby ledger and one Derby metric sink for the run.
  * Each drop also delivers one events file to a watched directory, and the
  * op ends with the two incremental drains of that directory: the hourly
  * rollup into the Derby warehouse and the latest-event-per-user upsert into
  * a versioned table, both resuming from durable checkpoints.
  */
final class EtlDaily(plan: JsonNode, trace: Trace) extends Workload(plan, trace) {
  private val sfDir = plan.get("sf_dir").asText
  private val drops = strings("drops")
  private val eventFiles = strings("event_files")
  private val streamSrc = plan.get("stream_src").asText
  private val latestTable = s"$work/latest_events"
  private val ledger = JdbcLedger.derby(s"$work/ledger_db")
  private val metricsUrl = s"jdbc:derby:$work/metrics_db;create=true"
  private val metricConn = JdbcConn(metricsUrl)
  private val readConn = java.sql.DriverManager.getConnection(metricsUrl)

  // a ledger with history: files completed by earlier days
  locally {
    val names = (0 until plan.get("ledger_history").asInt).map(i => f"history_$i%06d.csv")
    names.grouped(500).foreach { g =>
      ledger.insertStart(g, s"$work/history", java.time.LocalDate.of(2025, 1, 1))
      ledger.markCompleted(g)
    }
  }

  private def runDrop(spark: SparkSession, i: Int, tr: Boolean, id: Long): Map[String, Any] = {
    val runId = f"r$i%04d"
    val cfg = PipelineConfig(
      inputDir = drops(i), stagingBase = s"$work/staging", martBase = s"$work/marts",
      sfDir = sfDir, runId = runId, runDate = java.time.LocalDate.of(2026, 1, 1).plusDays(i))
    val stages = ArrayBuffer.empty[(String, Double, Double)]
    val sink: (DataFrame, String) => Unit = (df, table) =>
      Jdbc.write(df.withColumn("run_id", lit(runId)), metricConn, table, maxConnections = Some(1))
    val report = SalesEtlJob.run(spark, cfg, ledger, sink,
      onStage = (label, s) => { val t1 = trace.nowMs; stages += ((label, t1 - s * 1e3, t1)) })
    if (tr) stages.foreach { case (l, t0, t1) => trace.addSpan(id, l, t0, t1) }
    trace.drain(id, "stream_rollup_drain", tr) {
      EventStream.hourlyRollupToJdbc(spark, streamSrc, metricConn, "hourly_rollup",
        s"$work/chk_rollup")
    }
    trace.drain(id, "stream_upsert_drain", tr) {
      EventStream.upsertLatestToTable(spark, streamSrc, latestTable, s"$work/chk_upsert")
    }
    Map("drop" -> i, "run_id" -> runId,
      "wrong_type" -> report.wrongTypeFiles.size, "bad_schema" -> report.badSchemaFiles.size,
      "empty" -> report.emptyFiles.size, "replayed" -> report.skippedAlreadyProcessed.size,
      "valid_files" -> report.validFiles.size,
      "metric_rows" -> (report.customerMetricRows + report.incentiveRows),
      "customer_mart" -> report.customerMartPath, "sales_mart" -> report.salesMartPath)
  }

  /** The parquet files under `dir`, at any depth. */
  private def dataFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.toVector
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  /** Deliver drop `i`'s events file into the watched directory. */
  private def deliverEvents(i: Int): Unit = {
    val f = Paths.get(eventFiles(i))
    Files.move(f, Paths.get(streamSrc).resolve(f.getFileName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Untimed after each op: what the sinks hold for this run. */
  private def outputs(spark: SparkSession, rec: Map[String, Any]): Map[String, Any] = {
    if (rec("ok") != true) return Map.empty
    val ps = readConn.prepareStatement(
      """SELECT "customer_id", "sales_month", "total_sales" FROM customer_monthly_purchase
        |WHERE CAST("run_id" AS VARCHAR(16)) = ?""".stripMargin)
    val rows = ArrayBuffer.empty[Seq[Any]]
    try {
      ps.setString(1, rec("run_id").toString)
      val rs = ps.executeQuery()
      while (rs.next()) rows += Seq(rs.getLong(1), rs.getString(2), rs.getDouble(3))
      rs.close()
    } finally ps.close()
    val rollup = ArrayBuffer.empty[Seq[Any]]
    val st = readConn.createStatement()
    try {
      val rs = st.executeQuery(
        """SELECT "hour", "event_type", "n_events", "total_value" FROM hourly_rollup""")
      while (rs.next())
        rollup += Seq(rs.getTimestamp(1).getTime / 1000, rs.getString(2), rs.getLong(3), rs.getDouble(4))
      rs.close()
    } finally st.close()
    val latest = VersionedTable.snapshot(spark, latestTable)
    val latestRows = latest.select(col("user_id"), col("event_id")).collect()
      .map(r => Seq(r.getLong(0), r.getLong(1))).toSeq
    val cm = dataFiles(rec("customer_mart").toString)
    val sm = dataFiles(rec("sales_mart").toString)
    Map("readback" -> rows.toSeq, "rollup" -> rollup.toSeq, "latest" -> latestRows,
      "table_versions" -> (VersionedTable.latestVersion(latestTable) + 1),
      "table_data_files" -> latest.inputFiles.length,
      "files_written" -> (cm.size + sm.size),
      "partition_dirs" -> sm.map(_.getParent).distinct.size,
      "bytes_written" -> (cm ++ sm).map(Files.size).sum)
  }

  /** Drop 0, untimed; the timed ops take drops 1, 2, ... */
  override def warmUp(spark: SparkSession): Unit = {
    deliverEvents(0)
    runDrop(spark, 0, tr = false, -1L)
  }

  override def run(spark: SparkSession, deadlineMs: Double): Seq[Map[String, Any]] = {
    val recs = ArrayBuffer.empty[Map[String, Any]]
    var i = 1
    while (trace.nowMs < deadlineMs && i < drops.size) {
      val d = i
      deliverEvents(d)
      val r = op(spark, recs.size, "etl_run")(tr => runDrop(spark, d, tr, recs.size.toLong))
      recs += (try r ++ outputs(spark, r) catch {
        case e: Exception => r ++ Map("ok" -> false, "err" -> s"output readback: ${e.getMessage}")
      })
      i += 1
    }
    recs.toSeq
  }

  override def close(): Unit = { readConn.close(); ledger.close() }
}

/** Analyst: a seeded shuffle of a fixed weighted mix of read-only queries
  * over the star schema, closed loop, several client threads on one session.
  */
final class AnalystMix(plan: JsonNode, trace: Trace) extends Workload(plan, trace) {
  private val sfDir = plan.get("sf_dir").asText
  private val sequence = strings("sequence")
  private val clients = plan.get("clients").asInt

  val queries: Map[String, (String, (SparkSession, String) => DataFrame)] = Map(
    "customer_monthly"  -> ("etl", Metrics.customerMonthly _),
    "sales_incentive"   -> ("etl", Metrics.salesIncentive _),
    "pricing_rollup"    -> ("relational", Relational.pricingRollup _),
    "window_showcase"   -> ("relational", Relational.windowShowcase _),
    "top_order_per_customer" -> ("relational", Relational.topOrderPerCustomer _),
    "conversion_funnel" -> ("events", Events.conversionFunnel _),
    "retention_cohorts" -> ("events", Events.retentionCohorts _),
    "sessionize"        -> ("events", Events.sessionize _),
    "quantile_table"    -> ("statistics", (s, d) => Statistics.quantileTable(s, d)),
    "z_ordered_parts"   -> ("functions", Relational.zOrderedParts _),
    "minhash_signatures" -> ("functions", Dedup.minhashSignatures _))

  private def query(spark: SparkSession, name: String): Map[String, Any] = {
    val (plan, exec, rows) = Main.materialize(queries(name)._2(spark, sfDir))
    Map("query" -> name, "family" -> queries(name)._1,
      "plan_s" -> plan, "exec_s" -> exec, "rows" -> rows)
  }

  @volatile private var results = Map.empty[String, Any]

  /** The analyst's warm-up op: one whole block of the mix, untimed, so that
    * the timed ops run on compiled code (in a fresh JVM, the first block of
    * queries ran about an eighth slower than the blocks after it). The first
    * run of each query is collected: the run's reference, fingerprinted for
    * the golden check, row counts for every timed op, and the two business
    * questions' rows for the exact recomputation.
    */
  override def warmUp(spark: SparkSession): Unit = {
    val names = strings("warmup_block")
    val next = new AtomicLong(0L)
    val out = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < names.size) {
          val name = names(i.toInt)
          if (!out.containsKey(name)) {
            val rows = queries(name)._2(spark, sfDir).collect().toSeq
              .map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|"))
            out.put(name, Map("fingerprint" -> Main.fingerprint(rows), "rows" -> rows.size,
              "data" -> (if (queries(name)._1 == "etl") rows else Seq.empty)))
          } else query(spark, name)
          i = next.getAndIncrement()
        }
      }, s"perfbench-warmup-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    results = out.asScala.toMap
  }

  override def run(spark: SparkSession, deadlineMs: Double): Seq[Map[String, Any]] = {
    val next = new AtomicLong(0L)
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        while (trace.nowMs < deadlineMs) {
          val id = next.getAndIncrement()
          val name = sequence((id % sequence.size).toInt)
          val r = op(spark, id, "query") { tr =>
            val t0 = trace.nowMs
            val q = query(spark, name)
            if (tr) {
              val tPlan = t0 + q("plan_s").asInstanceOf[Double] * 1e3
              trace.addSpan(id, "plan", t0, tPlan)
              trace.addSpan(id, "exec", tPlan, trace.nowMs)
            }
            q
          }
          recs.add(r ++ Map("client" -> c) ++
            (if (r("ok") == true) Map.empty else Map("query" -> name, "family" -> queries(name)._1)))
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    recs.asScala.toSeq.sortBy(_("id").asInstanceOf[Long])
  }

  override def checks: Map[String, Any] = results
}
