package graft.perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Listeners the benchmark registers on the session. They only copy what
  * Spark reports into memory; the run turns it into metrics after the
  * listener bus has drained. Every time is epoch milliseconds. */

/** Scheduler and executor: one entry per job, with its tasks' metrics
  * summed. The job group is the benchmark's query id (streams run their
  * jobs under the stream's run id instead). */
final class ExecListener extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long) {
    var end: Long = -1L
    val sums = new Array[Double](ExecListener.Fields.size)
  }
  val jobs = mutable.ArrayBuffer.empty[Job]
  private val byStage = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val job = new Job(e.jobId, group, e.time)
    jobs += job
    e.stageIds.foreach(byStage(_) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { job =>
      val s = job.sums
      s(0) += 1
      if (e.reason != Success) s(1) += 1
      val m = e.taskMetrics
      if (m != null) {
        s(2) += m.executorRunTime / 1e3
        s(3) += m.executorCpuTime / 1e9
        s(4) += m.jvmGCTime / 1e3
        s(5) += m.executorDeserializeTime / 1e3
        s(6) += m.shuffleReadMetrics.fetchWaitTime / 1e3
        s(7) += m.inputMetrics.bytesRead
        s(8) += m.shuffleWriteMetrics.bytesWritten
        s(9) += m.diskBytesSpilled
        s(10) += m.outputMetrics.bytesWritten
      }
    }
  }

  def toJson: Seq[Map[String, Any]] = synchronized {
    jobs.toSeq.map { j =>
      Map("id" -> j.id, "group" -> j.group, "start" -> j.start, "end" -> j.end) ++
        ExecListener.Fields.zip(j.sums).toMap
    }
  }
}

object ExecListener {
  val Fields: Seq[String] = Seq("tasks", "failed_tasks", "task_s", "task_cpu_s", "gc_s",
    "deserialize_s", "fetch_wait_s", "input_bytes", "shuffle_write_bytes",
    "spill_bytes", "output_bytes")
}

/** Catalyst: phase times of every query execution, the rows its scans
  * produced, and its physical plan with expression ids and paths removed. */
final class PlanListener extends QueryExecutionListener {
  val execs = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val end = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.endTimeMs).max
    val plan = qe.executedPlan
    val rec = Map[String, Any](
      "end" -> end,
      "analysis_s" -> ms("analysis") / 1e3,
      "optimization_s" -> ms("optimization") / 1e3,
      "planning_s" -> ms("planning") / 1e3,
      "scan_rows" -> PlanListener.scanRows(plan),
      "plan" -> PlanListener.normalize(plan.treeString))
    synchronized { execs += rec }
  }

  def toJson: Seq[Map[String, Any]] = synchronized(execs.toSeq)
}

object PlanListener {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Rows out of every leaf scan of the executed plan. */
  def scanRows(p: SparkPlan): Long =
    nodes(p).filter(n => n.children.isEmpty && n.nodeName.contains("Scan"))
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum

  /** The plan text without what changes from run to run: expression,
    * common-subexpression and plan ids, file locations and object hashes. */
  def normalize(tree: String): String = tree
    .replaceAll("#\\d+L?", "#")
    .replaceAll("_common_expr_\\d+", "_common_expr_")
    .replaceAll("plan_id=\\d+", "plan_id")
    .replaceAll("(Location|Path|path|file): [^,\\]\\n]*", "$1: _")
    .replaceAll("(file:)?/[^\\s,\\]\\)]*", "_")
    .replaceAll("@[0-9a-f]{4,}", "@_")
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "_")
}

/** Structured streaming: query starts and ends and every micro-batch's
  * progress. Registered on every run, since the batch latencies are an
  * end-to-end measure of the streaming workload. */
final class StreamListener extends StreamingQueryListener {
  val events = mutable.ArrayBuffer.empty[Map[String, Any]]
  private def epoch(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized {
      events += Map("kind" -> "start", "run" -> e.runId.toString, "at" -> epoch(e.timestamp))
    }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val rec = Map[String, Any](
      "kind" -> "batch", "run" -> p.runId.toString, "batch" -> p.batchId,
      "at" -> epoch(p.timestamp), "rows" -> p.numInputRows,
      "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
      "planning_ms" -> ms("queryPlanning"), "offsets_ms" -> (ms("latestOffset") + ms("getBatch")),
      "wal_commit_ms" -> ms("walCommit"), "commit_offsets_ms" -> ms("commitOffsets"),
      "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    synchronized { events += rec }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized {
      events += Map("kind" -> "end", "run" -> e.runId.toString, "at" -> System.currentTimeMillis())
    }

  def toJson: Seq[Map[String, Any]] = synchronized(events.toSeq)
}
