package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The one session every main (Verify, Bench, PlanDump, perfbench)
  * and the test suite build, so the oracle gate, the benches and
  * production run the same plans and table layouts. Defaults chosen
  * for a single-JVM `local[N]` driver but expressed so the same
  * settings scale to a multi-executor cluster: AQE on (runtime join
  * re-planning, skew splitting, partition coalescing), UTC session
  * time zone (oracle parity), shuffle partitions sized to cores rather
  * than the 200 default. Callers that want a quieter log lower the
  * level after the call.
  *
  * Two settings exist so each generated class compiles once per JVM.
  * Spark caches compiled codegen classes by (context class loader,
  * source), and a whole-stage plan compiles on the driver thread that
  * runs the action and again in its first task.
  *  - Session artifact isolation is off: with it on, every task runs
  *    under a per-session class loader, under which a compile takes
  *    about twice as long and never hits a driver entry. graft adds no
  *    session artifacts (jars, files, classes), so isolation guards
  *    nothing here.
  *  - In local mode the task threads' context class loader is captured
  *    with one 1-task job and installed on the calling thread, so
  *    driver-side and task-side compiles of one source share one cache
  *    entry. [[Pools.runAll]] tasks run under their caller's loader,
  *    and Spark's own driver pools (exchange, query-stage, broadcast
  *    threads) inherit it from the thread that starts them.
  */
object Sessions {
  def local(appName: String = "graft", cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE rewrite sort-merge -> shuffled-hash at runtime when
      // EVERY post-shuffle build partition is under 64 MB (off by
      // default). Runtime-sized per partition, so it converts only
      // joins whose build side is provably hash-table-small at ANY
      // corpus size, not a tuned-for-one-host constant. Bench A/B at
      // sf0.1: the six SMJ-planning queries sum 5-7% faster with it.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // split size: 128 MiB keeps a task's input inside executor memory
      // at any corpus size (scan parallelism = bytes / this, not files)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      // pack many small files into one task instead of task-per-file
      // (binaryFile doc corpora and per-run log appends produce them)
      .config("spark.sql.files.openCostInBytes", (4L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // INT96 (the legacy default) carries no usable footer statistics;
      // micros gives TxTable's manifest zone maps timestamp min/max
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // tasks run under the executor's one class loader, not a
      // per-session one (see the scaladoc above)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (spark.sparkContext.isLocal) {
      spark.sparkContext.parallelize(Seq(0), 1).foreach(_ =>
        TaskLoader.captured = Thread.currentThread().getContextClassLoader)
      Thread.currentThread().setContextClassLoader(TaskLoader.captured)
    }
    spark
  }

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
}

/** Where the capture task leaves its loader: the task runs a copy of
  * its closure, so a reference the closure captured would not reach
  * the driver; a static field in the same JVM does. */
private object TaskLoader {
  @volatile var captured: ClassLoader = null
}
