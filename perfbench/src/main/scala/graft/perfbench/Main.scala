package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.core.SessionFactory

/** One benchmark run inside one JVM: set up (a session plus one untimed
  * warm-up op), run the workload's loop until the deadline, collect what the
  * output checks need, and write everything as one JSON document. Metrics
  * are computed from that document by `run.py`.
  *
  * Usage: Main --workload <name> --plan <plan.json> --seconds <s>
  *             --trace <0|1> --out <result.json>
  */
object Main {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    // neighbour load, sampled before this JVM does any heavy work
    val loadBefore = osBean.getSystemLoadAverage
    val jvmToMain = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = new ObjectMapper().readTree(new File(opts("plan")))
    val trace = new Trace(opts("trace") == "1")
    val seconds = opts("seconds").toDouble
    val cores = plan.get("cores").asInt

    val workload: Workload = opts("workload") match {
      case "etl_daily"    => new EtlDaily(plan, trace)
      case "analyst_mix"  => new AnalystMix(plan, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up runs from JVM start to the first timed op
    val t0 = System.nanoTime()
    val spark = SessionFactory.local(cores, "graft-perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    trace.install(spark)
    workload.warmUp(spark)
    val setupS = jvmToMain + (System.nanoTime() - t0) / 1e9

    val cpu0 = cpuSeconds
    val w0 = trace.nowMs
    val ops = workload.run(spark, w0 + seconds * 1e3)
    val w1 = trace.nowMs
    val cpu1 = cpuSeconds

    val result = Map(
      "workload" -> opts("workload"),
      "load_before" -> loadBefore,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "setup_s" -> setupS,
      "jvm_to_main_s" -> jvmToMain,
      "session_start_s" -> sessionS,
      "window_t0" -> w0,
      "window_t1" -> w1,
      "window_cpu_s" -> (cpu1 - cpu0),
      "process_cpu_s" -> cpu1,
      "peak_rss_mb" -> Main.peakRssMb,
      "ops" -> ops,
      "checks" -> workload.checks,
      "spans" -> trace.spanRecords,
      "jobs" -> trace.jobRecords(spark.sparkContext),
      "batches" -> trace.batchRecords)
    new ObjectMapper().writeValue(new File(opts("out")), Json.toJava(result))
    workload.close()
    spark.stop()
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Build a query and run it, timing planning and execution separately.
    * Planning covers building the DataFrame (table reads resolve their files
    * and schemas there, and memoized program stages compute there) and
    * forcing the executed plan (analysis, the optimizer with the program's
    * rules, physical planning). Execution runs that same plan and touches
    * every column of every row, as a `noop` write does, counting rows.
    */
  def materialize(build: => DataFrame): (Double, Double, Long) = {
    val t0 = System.nanoTime()
    val qe = build.queryExecution
    qe.executedPlan
    val t1 = System.nanoTime()
    val rows = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator.single(n)
      }.fold(0L)(_ + _)
    }
    ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, rows)
  }

  /** Order-independent fingerprint of a result: sha-256 of its sorted rows. */
  def fingerprint(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** A workload: its warm-up op, its timed loop, and what its output checks
  * need. In a traced run every timed op is traced.
  */
abstract class Workload(plan: JsonNode, trace: Trace) {
  def warmUp(spark: SparkSession): Unit
  def run(spark: SparkSession, deadlineMs: Double): Seq[Map[String, Any]]
  /** What the output checks need beyond the op records. */
  def checks: Map[String, Any] = Map.empty
  def close(): Unit = ()

  protected val work: String = plan.get("work").asText
  protected def strings(key: String): IndexedSeq[String] =
    plan.get(key).elements().asScala.map(_.asText).toIndexedSeq

  /** Run one op body, catching its failure into the record. */
  protected def op(spark: SparkSession, id: Long, kind: String)(
      body: Boolean => Map[String, Any]): Map[String, Any] = {
    val tr = trace.enabled
    // Spark local properties are per thread and inherited by threads the op
    // starts, so the listener can attribute every job of a traced op to it
    spark.sparkContext.setLocalProperty(Trace.OpProperty, if (tr) id.toString else null)
    val t0 = trace.nowMs
    val (ok, err, extra) =
      try (true, "", body(tr))
      catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500), Map.empty[String, Any]) }
    val t1 = trace.nowMs
    spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
    Map("id" -> id, "kind" -> kind, "t0" -> t0, "t1" -> t1, "ok" -> ok, "err" -> err,
      "traced" -> tr) ++ extra
  }
}

object Json {
  def toJava(x: Any): Any = x match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, v) => out.put(k.toString, toJava(v)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case other => other
  }
}
