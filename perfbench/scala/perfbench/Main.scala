package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State of one benchmark process: the session, the tracer, and every
  * record the Python side turns into metrics. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val work: String) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val setups = mutable.ArrayBuffer.empty[Double]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Workload facts for the report: counts, bytes, per-stage times. */
  val facts = mutable.LinkedHashMap.empty[String, Any]
  var measureS = 0.0
  var gcMs = 0L
  var heapRetainedMb = 0.0
  /** Seconds since JVM start at each phase boundary of the process. */
  val phases = mutable.ArrayBuffer.empty[(String, Double)]
  def phase(name: String): Unit = phases += (name ->
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)

  /** Times `body` as one op. `valid` runs after the clock stops and
    * returns an error for a wrong output; a throw or a wrong output
    * marks the op failed, and a failed op never yields a value. */
  def op[A](kind: String, name: String, units: A => Long = (_: A) => 1L)
      (body: => A)(valid: A => Option[String]): Option[A] = {
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(s"op.$name")(body))
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Left(e) =>
        ops += OpRecord(kind, name, ok = false, ms, 0L, String.valueOf(e))
        None
      case Right(v) =>
        val bad = try valid(v) catch { case NonFatal(e) => Some(String.valueOf(e)) }
        ops += OpRecord(kind, name, bad.isEmpty, ms,
          if (bad.isEmpty) units(v) else 0L, bad.getOrElse(""))
        if (bad.isEmpty) Some(v) else None
    }
  }

  /** A layer call inside an op: a named span, nothing else. */
  def layer[A](name: String)(body: => A): A = tracer.span(name)(body)

  def check(name: String)(cond: => Boolean, detail: => String): Unit = {
    val ok = try cond catch { case NonFatal(e) => false }
    checks += Map("name" -> name, "ok" -> ok,
      "detail" -> (if (ok) "" else try detail catch { case NonFatal(e) => e.toString }))
  }

  /** Times one set-up; the report takes the median of all of them. */
  def setup[A](body: => A): A = {
    val t0 = System.nanoTime()
    val r = tracer.span("setup")(body)
    setups += (System.nanoTime() - t0) / 1e9
    r
  }

  /** Closed loop on the client thread, in whole passes over a fixed
    * op sequence of `size`: pass p runs ops p*size .. p*size+size-1 and
    * starts only while the measured window is open, so every run
    * measures the same op mix and ends with a whole pass. */
  def passes(size: Int)(next: Int => Unit): Unit = {
    val gc0 = Run.gcMs()
    phase("measure_start")
    val t0 = System.nanoTime()
    var p = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      (0 until size).foreach(j => next(p * size + j))
      p += 1
    }
    measureS = (System.nanoTime() - t0) / 1e9
    gcMs = Run.gcMs() - gc0
    heapRetainedMb = Run.retainedHeapMb()
    phase("measure_end")
  }
}

object Run {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after full collections, repeated until it settles:
    * Spark's cleaner releases shuffle and broadcast state only after a
    * collection has enqueued their references, so one GC reads high at
    * random. */
  def retainedHeapMb(): Double = {
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = used()
    var cur = prev
    var rounds = 0
    do {
      Thread.sleep(250)
      prev = cur
      cur = used()
      rounds += 1
    } while (rounds < 8 && math.abs(cur - prev) > prev / 100)
    cur / (1024.0 * 1024.0)
  }
}

/** Benchmark process entry point:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --out FILE`.
  * Runs one workload and writes its raw records to FILE as JSON. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val spark = graft.core.Sessions.local("perfbench", cores)
    val tracer = new Tracer(spark, a("trace") == "1")
    val run = new Run(spark, tracer, a("seed").toLong, a("seconds").toDouble, a("work"))
    run.phase("session_ready")
    var fatal: Option[String] = None
    try workload match {
      case "ingest" => Ingest.run(run)
      case "analytics" => Analytics.run(run)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        fatal = Some(String.valueOf(e))
    }
    run.phase("workload_end")
    val trace = tracer.dump()
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql") || k == "spark.master" || k.startsWith("spark.driver")
      }.toSeq.sortBy(_._1).toMap)
    val out = Map(
      "workload" -> workload,
      "fatal" -> fatal,
      "env" -> env,
      "setup_s" -> run.setups.toSeq,
      "measure_s" -> run.measureS,
      "gc_ms" -> run.gcMs,
      "heap_retained_mb" -> run.heapRetainedMb,
      "ops" -> run.ops.toSeq.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "ok" -> o.ok, "ms" -> o.ms, "units" -> o.units, "error" -> o.error)),
      "checks" -> run.checks.toSeq,
      "facts" -> run.facts,
      "phases" -> run.phases.toSeq.map { case (k, v) => Seq(k, v) },
      "trace" -> trace)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), Json.write(out))
    spark.stop()
  }
}
