package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload: a run, a request or a query.
  * `units` is the work the op completed (documents committed, rows
  * returned); a failed op keeps `ms` for the record but never enters a
  * latency sample. */
final case class OpRecord(kind: String, name: String, ok: Boolean,
    ms: Double, units: Long, error: String)

/** Records spans at every layer boundary the benchmark calls through,
  * plus Spark jobs, stages and planning phases from Spark's public
  * listener APIs. Everything stays in memory until [[dump]].
  *
  * Bench spans use the client thread's monotonic clock; Spark events
  * carry wall-clock epoch millis, converted onto the same timeline
  * with the offset taken at construction. Jobs are attributed to spans
  * by time on the Python side (the single client thread is blocked in
  * exactly one innermost span while a job runs), so jobs submitted
  * from graft's own thread pools are attributed correctly too.
  *
  * With `enabled = false` nothing is registered and [[span]] is a
  * plain call: end-to-end numbers come from that mode. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val selfNanos = new AtomicLong(0)

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  private def epochMs(e: Long): Double = (e - t0Epoch).toDouble

  private case class BenchSpan(id: Long, parent: Long, name: String,
      start: Double, end: Double)
  private val spans = mutable.ArrayBuffer.empty[BenchSpan]
  private var stack: List[Long] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val start = nowMs
      selfNanos.addAndGet(System.nanoTime() - b0)
      try body
      finally {
        val end = nowMs
        val b1 = System.nanoTime()
        stack = stack.tail
        spans += BenchSpan(id, parent, name, start, end)
        selfNanos.addAndGet(System.nanoTime() - b1)
      }
    }

  // ---- Spark side -------------------------------------------------

  private final class JobAcc(val id: Int, val start: Double) {
    var end: Double = Double.NaN
    var ok = true
    var stages = 0
    var tasks = 0L
    var taskMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    var failedTasks = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(Double, Double)]
  @volatile private var lastEvent = System.nanoTime()

  private def timed(f: => Unit): Unit = {
    val b0 = System.nanoTime()
    lastEvent = b0
    this.synchronized(f)
    selfNanos.addAndGet(System.nanoTime() - b0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs(e.jobId) = new JobAcc(e.jobId, epochMs(e.time))
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.get(e.jobId).foreach { j =>
        j.end = epochMs(e.time)
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      timed {
        val info = e.stageInfo
        stageToJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1
          j.tasks += info.numTasks
          val m = info.taskMetrics
          if (m != null) {
            j.taskMs += m.executorRunTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.input += m.inputMetrics.bytesRead
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success) timed {
        stageToJob.get(e.stageId).flatMap(jobs.get)
          .foreach(_.failedTasks += 1)
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      val phases = qe.tracker.phases
      val opt = phases.get("optimization")
      val planning = phases.get("planning")
      val ms = opt.map(_.durationMs).getOrElse(0L) +
        planning.map(_.durationMs).getOrElse(0L)
      val start = opt.orElse(planning).map(_.startTimeMs)
      start.foreach(s => plans += ((epochMs(s), ms.toDouble)))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until every started job has ended and the listener bus has
    * been quiet for a moment (events arrive asynchronously). */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 10000L * 1000000L
    def settled = this.synchronized(jobs.values.forall(!_.end.isNaN)) &&
      System.nanoTime() - lastEvent > 300L * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Trace dump for the Python side: bench spans, Spark jobs with their
    * stage metrics, planning events and the tracer's own cost. */
  def dump(): Map[String, Any] =
    if (!enabled) Map.empty
    else {
      drain()
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
      this.synchronized {
        Map(
          "spans" -> spans.map(s =>
            Seq(s.id, s.parent, s.name, s.start, s.end)).toSeq,
          "jobs" -> jobs.values.toSeq.map(j => Map(
            "id" -> j.id, "start" -> j.start,
            "end" -> (if (j.end.isNaN) j.start else j.end), "ok" -> j.ok,
            "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
            "shuffle_read_bytes" -> j.shuffleRead,
            "shuffle_write_bytes" -> j.shuffleWrite,
            "spill_bytes" -> j.spill, "input_bytes" -> j.input,
            "failed_tasks" -> j.failedTasks)),
          "plans" -> plans.map { case (s, ms) => Seq(s, ms) }.toSeq,
          "self_ms" -> selfNanos.get / 1e6)
      }
    }
}
