package graft.perfbench

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory trace of one benchmark run. Spans, Spark job/task counts and
  * streaming batch progress are appended from any thread and written out
  * once, when the run ends. Only traced ops are recorded: the listeners drop
  * the untraced warm-up op's jobs, tasks and batches on a single map lookup.
  *
  * Times are epoch milliseconds with a fractional part: span boundaries come
  * from `System.nanoTime` anchored once to the wall clock, so they line up
  * with the listener's epoch-ms job timestamps.
  */
final class Trace(val enabled: Boolean) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  import Trace._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  // stages of traced ops' jobs only, registered when their job starts
  private val stageAgg = new ConcurrentHashMap[Int, TaskAgg]()
  private val drainRuns = new ConcurrentHashMap[UUID, (Long, String)]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  @volatile private var drainLabel: Option[(Long, String)] = None

  def addSpan(op: Long, name: String, t0: Double, t1: Double): Unit =
    if (enabled) spans.add(Span(op, name, t0, t1))

  /** Run one streaming drain of op `op`, timed as a span named `name`; when
    * the op is traced its micro-batches' progress is kept under that name.
    */
  def drain[T](op: Long, name: String, traced: Boolean)(body: => T): T = {
    // read by onQueryStarted, which Spark calls synchronously inside start()
    drainLabel = if (traced) Some((op, name)) else None
    val t0 = nowMs
    try body
    finally {
      drainLabel = None
      if (traced) addSpan(op, name, t0, nowMs)
    }
  }

  private val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty))).foreach { op =>
        e.stageIds.foreach(s => stageAgg.putIfAbsent(s, TaskAgg()))
        jobs.add(Job(op.toLong, e.jobId, e.time.toDouble, e.stageIds))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageAgg.get(e.stageId)
      val m = e.taskMetrics
      if (a != null && m != null) a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      drainLabel.foreach(l => drainRuns.put(e.runId, l))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(drainRuns.get(p.runId)).foreach { case (op, name) =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        batches.add(Batch(op, name, p.batchId, p.numInputRows,
          d.getOrElse("queryPlanning", 0L), d.getOrElse("addBatch", 0L),
          d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
          d.getOrElse("triggerExecution", 0L),
          p.stateOperators.map(_.numRowsTotal).sum))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Attach the listeners to a session; one session per run. */
  def install(spark: SparkSession): Unit = if (enabled) {
    stageAgg.clear()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Jobs with their stages' task totals folded in; the listener bus is
    * drained first so every finished task has been counted.
    */
  def jobRecords(sc: SparkContext): Seq[Map[String, Any]] = {
    Trace.drainListenerBus(sc)
    // a stage reused by a later job (skipped, its shuffle output kept) is
    // counted once, for the job that ran it
    val claimed = scala.collection.mutable.Set.empty[Int]
    jobs.asScala.toSeq.sortBy(_.jobId).map { j =>
      val own = j.stageIds.filter(claimed.add)
      val aggs = own.flatMap(s => Option(stageAgg.get(s)))
      Map("op" -> j.op, "job" -> j.jobId, "t0" -> j.t0,
        "tasks" -> aggs.map(_.tasks).sum,
        "run_s" -> aggs.map(_.runMs).sum / 1e3,
        "cpu_s" -> aggs.map(_.cpuNs).sum / 1e9,
        "shuffle_write_bytes" -> aggs.map(_.shuffleWriteBytes).sum,
        "spill_bytes" -> aggs.map(_.spillBytes).sum)
    }
  }

  def spanRecords: Seq[Map[String, Any]] =
    spans.asScala.toSeq.map(s => Map("op" -> s.op, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1))

  /** Streaming micro-batches of traced drains; call after [[jobRecords]]. */
  def batchRecords: Seq[Map[String, Any]] =
    batches.asScala.toSeq.map(b => Map("op" -> b.op, "drain" -> b.drain, "batch" -> b.batchId,
      "input_rows" -> b.inputRows, "planning_ms" -> b.planningMs, "add_batch_ms" -> b.addBatchMs,
      "wal_commit_ms" -> b.walCommitMs, "trigger_ms" -> b.triggerMs, "state_rows" -> b.stateRows))
}

object Trace {
  val OpProperty = "perfbench.op"

  final case class Span(op: Long, name: String, t0: Double, t1: Double)
  final case class Job(op: Long, jobId: Int, t0: Double, stageIds: Seq[Int])
  final case class TaskAgg(var tasks: Long = 0, var runMs: Long = 0, var cpuNs: Long = 0,
      var shuffleWriteBytes: Long = 0, var spillBytes: Long = 0)
  final case class Batch(op: Long, drain: String, batchId: Long, inputRows: Long,
      planningMs: Long, addBatchMs: Long, walCommitMs: Long, triggerMs: Long, stateRows: Long)

  def drainListenerBus(sc: SparkContext): Unit =
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(sc, 10000)
}
