package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Bench-owned listeners for the traced run. Spark's public listener
  * interfaces report every QueryExecution's planning phases and rules,
  * every job, stage and task, and every streaming progress update; the
  * tracer keeps them in memory as spans (kind, name, start, end, parent)
  * and per-op counters, and writes them to the result file at the end.
  *
  * Jobs are tied to their op through the job group the bench sets around
  * each op (`spark.jobGroup.id`). A streaming query runs its micro-batch
  * jobs in a job group of its own, its run id, which the op's record
  * carries; the summariser maps it to the op. QueryExecution spans carry
  * no op id; their op is the one whose interval holds them, which the
  * summariser resolves likewise. */
final class Tracer(spark: SparkSession) {
  final case class Span(id: String, parent: String, kind: String,
                        name: String, startMs: Double, endMs: Double)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val jobLastTask = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobOutBytes = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** op id -> counter name -> value (sums, except peak_mem which is a max) */
  private val opCounters = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val qeCounters = new ConcurrentLinkedQueue[(String, Map[String, Double])]()
  private val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private def add(op: String, k: String, v: Double): Unit = opCounters.synchronized {
    val m = opCounters.getOrElseUpdate(op, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    m(k) += v
  }
  private def max(op: String, k: String, v: Double): Unit = opCounters.synchronized {
    val m = opCounters.getOrElseUpdate(op, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    m(k) = math.max(m(k), v)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
  }

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val rules = qe.tracker.rules
    val id = s"qe${qe.id}"
    val ruleNs = rules.values.map(_.totalTimeNs).sum
    qeCounters.add(id -> Map(
      "rule_s" -> ruleNs / 1e9,
      "rule_invocations" -> rules.values.map(_.numInvocations).sum.toDouble,
      "rule_effective" -> rules.values.map(_.numEffectiveInvocations).sum.toDouble,
      "srp_rewrite_s" -> rules.collect {
        case (n, r) if n.contains("SrpJoinRewrite") => r.totalTimeNs }.sum / 1e9))
    if (phases.nonEmpty) {
      spans.add(Span(id, "", "qe", funcName,
        phases.values.map(_.startTimeMs).min.toDouble,
        phases.values.map(_.endTimeMs).max.toDouble))
      phases.foreach { case (p, s) =>
        spans.add(Span(s"$id.$p", id, "phase", p, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      }
    }
  }

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      jobStart.put(e.jobId, (e.time, op))
      e.stageIds.foreach { s => stageOp.put(s, op); stageJob.put(s, e.jobId) }
      add(op, "jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, op) = Option(jobStart.get(e.jobId)).getOrElse((e.time, ""))
      spans.add(Span(s"job${e.jobId}", op, "job", s"job${e.jobId}", t0.toDouble, e.time.toDouble))
      val out = jobOutBytes.getOrDefault(e.jobId, 0L)
      if (out > 0) spans.add(Span(s"write${e.jobId}", op, "write", s"job${e.jobId}",
        jobLastTask.getOrDefault(e.jobId, e.time).toDouble, e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val op = stageOp.getOrDefault(info.stageId, "")
      add(op, "stages", 1)
      if (info.attemptNumber() > 0) add(op, "stages_retried", 1)
      for (s <- info.submissionTime; c <- info.completionTime)
        spans.add(Span(s"stage${info.stageId}.${info.attemptNumber()}",
          s"job${stageJob.getOrDefault(info.stageId, -1)}", "stage",
          info.name, s.toDouble, c.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(e.stageId, "")
      val job = stageJob.getOrDefault(e.stageId, -1)
      val ti = e.taskInfo
      add(op, "tasks", 1)
      if (ti.failed || ti.killed) add(op, "tasks_failed", 1)
      jobLastTask.merge(job, ti.finishTime, (a, b) => math.max(a, b))
      val m = e.taskMetrics
      if (m != null) {
        add(op, "task_run_s", m.executorRunTime / 1000.0)
        add(op, "task_cpu_s", m.executorCpuTime / 1e9)
        add(op, "task_gc_s", m.jvmGCTime / 1000.0)
        add(op, "task_overhead_s", math.max(0L, ti.duration - m.executorRunTime) / 1000.0)
        max(op, "peak_mem_mb", m.peakExecutionMemory / 1048576.0)
        add(op, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add(op, "shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add(op, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
        add(op, "spill_mem_mb", m.memoryBytesSpilled / 1048576.0)
        add(op, "spill_disk_mb", m.diskBytesSpilled / 1048576.0)
        add(op, "read_mb", m.inputMetrics.bytesRead / 1048576.0)
        add(op, "rows_read", m.inputMetrics.recordsRead.toDouble)
        add(op, "write_mb", m.outputMetrics.bytesWritten / 1048576.0)
        jobOutBytes.merge(job, m.outputMetrics.bytesWritten, (a, b) => a + b)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Writes what was traced: spans, per-op counters, QueryExecution
    * counters and streaming progress. Call after [[detach]]. */
  def write(rec: Records): Unit = {
    spans.asScala.foreach { s =>
      rec.emit("span", "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
    }
    opCounters.foreach { case (op, m) => rec.emit("opx", "op" -> op, "c" -> m.toMap) }
    qeCounters.asScala.foreach { case (id, c) => rec.emit("qex", ("qe" -> id) +: c.toSeq: _*) }
    progress.asScala.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1000.0 }.toMap
      val st = p.stateOperators.toSeq
      rec.emit("progress", "batch" -> p.batchId, "rows_in" -> p.numInputRows,
        "d" -> d, "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_commit_s" -> st.map(_.commitTimeMs).sum / 1000.0)
    }
  }
}
