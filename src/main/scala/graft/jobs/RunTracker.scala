package graft.jobs

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.core.Warehouse
import graft.domain.Schemas

/** Run state machine + append-only progress log (SURVEY §2.12
  * semantics: `queued → running → completed | failed`, ref
  * `src/jobs/scan.ts:20,82-103`, ordered `run_logs` appends
  * `src/repository.ts:87-92`). Timestamps are injected (never
  * `current_timestamp()`) so golden tests are stable.
  */
final class RunTracker(wh: Warehouse) {
  private val runs = wh.domainTable("runs")
  private val logs = wh.domainTable("run_logs")
  private val spark = wh.spark

  // atomic: a pipeline run logs from pool threads too, and two log
  // calls must never share a run_logs id
  private val logSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Idempotent by runId (insert-if-absent): a streaming micro-batch
    * replay re-creating its child run must not duplicate the row. */
  def create(runId: String, runType: String, jurisdiction: String,
      daysWindow: Int, now: Timestamp): Unit = {
    val row = Row(runId, runType, jurisdiction, daysWindow, "queued",
      now, null, null, null)
    runs.insertIfAbsent(spark.createDataFrame(
      java.util.Arrays.asList(row), Schemas.runs))
  }

  def setStatus(runId: String, status: String): Unit =
    runs.updateKey(Seq(runId), Map("status" -> lit(status)))

  def log(runId: String, stage: String, message: String,
      now: Timestamp, meta: Option[String] = None): Unit = {
    val id = f"$runId-log-${logSeq.incrementAndGet()}%05d"
    val row = Row(id, runId, stage, message, meta.orNull, now)
    logs.append(spark.createDataFrame(
      java.util.Arrays.asList(row), Schemas.runLogs))
  }

  def complete(runId: String, metaJson: String, now: Timestamp): Unit =
    finish(runId, "completed", metaJson, now)

  def fail(runId: String, error: String, now: Timestamp): Unit =
    finish(runId, "failed", s"""{"error":${JsonUtil.quote(error)}}""", now)

  private def finish(runId: String, status: String, metaJson: String,
      now: Timestamp): Unit =
    runs.updateKey(Seq(runId), Map("status" -> lit(status),
      "completed_at" -> lit(now), "meta" -> lit(metaJson)))
}

/** Minimal JSON building for run meta (open-map JSONB analog). */
object JsonUtil {
  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) =>
      quote(k) + ":" + (v match {
        case s: String => quote(s)
        case n: Long => n.toString
        case n: Int => n.toString
        case n: Double => n.toString
        case b: Boolean => b.toString
        case null => "null"
        case raw: RawJson => raw.json
        case other => quote(other.toString)
      })
    }.mkString("{", ",", "}")

  case class RawJson(json: String)
}
