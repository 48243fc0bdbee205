package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything a run observes, kept in memory and written once at the end.
  *
  * Operations (`op`) are recorded in every run: they carry the
  * end-to-end timings. Spans, listener records and per-operation
  * samples are recorded only when `traced`, so the end-to-end runs
  * carry no listener or job-group overhead.
  *
  * All times are epoch milliseconds as doubles, derived from one
  * nanoTime origin so spans and operations share a clock with the
  * listener's job and stage times (epoch milliseconds).
  */
final class Recorder(val traced: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val ops = ArrayBuffer.empty[Map[String, Any]]
  val spans = ArrayBuffer.empty[Map[String, Any]]
  val samples = ArrayBuffer.empty[Map[String, Any]]
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val queries = ArrayBuffer.empty[Map[String, Any]]
  val progress = ArrayBuffer.empty[String]

  private var sc: SparkContext = _
  private var stack: List[Long] = Nil
  private var nextSpan = 0L
  private var nextOp = 0L
  private var currentOp = 0L

  /** Attach to a fresh session; in traced mode this registers the
    * three listeners on it. */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (traced) {
      sc.addSparkListener(new JobListener)
      spark.listenerManager.register(new QeListener)
      spark.streams.addListener(new ProgressListener)
    }
  }

  /** One measured operation. Returns the body's result, or None if it
    * threw; the failure is recorded, not rethrown. */
  def op[T](kind: String, name: String, extra: Map[String, Any] = Map.empty)(
      body: => T): Option[T] = {
    nextOp += 1
    val id = nextOp
    currentOp = id
    val t0 = now()
    val r = try Right(span(s"op.$kind", body)) catch {
      case e: Throwable if scala.util.control.NonFatal(e) => Left(e)
    }
    val t1 = now()
    currentOp = 0L
    ops += Map("id" -> id, "kind" -> kind, "name" -> name, "start_ms" -> t0,
      "end_ms" -> t1, "ok" -> r.isRight,
      "error" -> r.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")) ++ extra
    if (traced) sample(id)
    r.toOption
  }

  def annotateLast(kv: (String, Any)): Unit = ops(ops.size - 1) = ops.last + kv

  /** Record a span around a call into one layer; the Spark jobs the
    * body submits from this thread (and from threads it creates) carry
    * the span's id as their job group. */
  def span[T](name: String, body: => T): T = {
    if (!traced) return body
    nextSpan += 1
    val id = nextSpan
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      stack = stack.tail
      spans += Map("id" -> id, "name" -> name, "parent" -> parent,
        "op" -> currentOp, "start_ms" -> t0, "end_ms" -> t1)
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def sample(opId: Long): Unit = {
    val storage = sc.getRDDStorageInfo
    val rt = Runtime.getRuntime
    samples += Map("op" -> opId,
      "persisted_rdds" -> sc.getPersistentRDDs.size,
      "storage_mb" -> storage.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      "heap_mb" -> (rt.totalMemory() - rt.freeMemory()) / 1048576.0,
      "threads" -> java.lang.management.ManagementFactory.getThreadMXBean.getThreadCount)
  }

  private final class JobListener extends SparkListener {
    private val taskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs += Map("id" -> e.jobId, "event" -> "start", "time_ms" -> e.time,
        "group" -> group, "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs += Map("id" -> e.jobId, "event" -> "end", "time_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val durs = taskMs.remove(i.stageId).getOrElse(ArrayBuffer.empty[Long]).sorted
      stages += Map("id" -> i.stageId, "tasks" -> i.numTasks,
        "submit_ms" -> i.submissionTime, "end_ms" -> i.completionTime,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_rows" -> m.outputMetrics.recordsWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "task_ms_max" -> durs.lastOption.getOrElse(0L),
        "task_ms_median" -> (if (durs.isEmpty) 0L else durs(durs.size / 2)))
    }
  }

  private final class QeListener extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L, ok = false)

    private def record(qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def phase(n: String): Long = phases.get(n).map(_.durationMs).getOrElse(0L)
      var filesRead = 0L; var filesWritten = 0L; var bytesWritten = 0L
      foreach(qe.executedPlan) { (p: SparkPlan) =>
        val name = p.nodeName
        def metric(k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
        if (name.contains("Scan")) filesRead += metric("numFiles")
        else if (name.contains("Execute") || name.contains("Write")) {
          filesWritten += metric("numFiles")
          bytesWritten += metric("numOutputBytes")
        }
      }
      val end = System.currentTimeMillis().toDouble
      Recorder.this.synchronized {
        queries += Map("end_ms" -> end, "exec_ms" -> durationNs / 1e6, "ok" -> ok,
          "plan_ms" -> (phase("analysis") + phase("optimization") + phase("planning")),
          "files_read" -> filesRead, "files_written" -> filesWritten,
          "bytes_written" -> bytesWritten)
      }
    }
  }

  private final class ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized { progress += e.progress.json }
  }

  def toMap: Map[String, Any] = synchronized {
    Map("ops" -> ops.toList, "spans" -> spans.toList, "samples" -> samples.toList,
      "jobs" -> jobs.toList, "stages" -> stages.toList, "queries" -> queries.toList,
      "progress" -> progress.toList)
  }
}
