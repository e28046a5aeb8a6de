package graft.core

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Semaphore}

/** Shared daemon executor for driver-side concurrency: staged-commit
  * footer reads, and the independent Spark jobs and table writes of a
  * pipeline run (guide §2.6 — actions are only sequential because the
  * driver calls them sequentially).
  *
  * CACHED, not fixed, for two reasons:
  *  - Nested submission cannot deadlock: a pipeline write task waits
  *    on its commit's footer-read tasks on this same pool — on a
  *    small fixed pool the outer tasks could occupy every thread and
  *    starve the inner ones forever.
  *  - No per-use construction: the previous shape built and tore down
  *    a fixed pool on every staged commit, paying thread creation on
  *    exactly the small commits the concurrency was meant to speed up.
  *
  * Concurrency is bounded by the CALL SITES, not by the pool:
  *  - footer reads: ≤8 per staged commit;
  *  - ScanJob: 2 (start), 2 (prelude), then 4 persist branches, one
  *    running 3 of its 5 sketch batches at a time and one its 5
  *    routed writes and counts together; 2 (finish);
  *  - MergeJob: 2 (prelude), then 7 writes and counters;
  *  - ReviewService.approve: 2.
  * Threads are daemons and idle-reap after 60 s, so an idle process
  * holds none and JVM shutdown is never blocked.
  */
object Pools {
  lazy val io: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-io-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })

  /** Run `tasks` concurrently on [[io]] and return their results in
    * order; `width` bounds how many run at once.
    *
    * Failure rule: once a task fails, tasks that have not started are
    * skipped, and the tasks already running are JOINED — never
    * interrupted, since an interrupt can land inside a table commit
    * mid-protocol. Only then is the first failure (in time) rethrown,
    * wrapped with its task's name, its later siblings' failures
    * attached as suppressed. So when this returns or throws, no task
    * is still running: an enclosing [[JobTxn]] rolls back only after
    * every sibling write has landed or failed, and none can commit on
    * top of the restored version. An interrupt of the caller counts
    * as a failure under the same rule. */
  def runAll[A](label: String, width: Int)(
      tasks: Seq[(String, () => A)]): Seq[A] = {
    require(width > 0, "width must be positive")
    if (tasks.isEmpty) return Nil
    if (tasks.size == 1 || width == 1) return tasks.map(_._2())
    val sem = new Semaphore(width)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    // pool threads outlive sessions, so each task takes the caller's
    // context class loader (see Sessions) rather than its thread's
    val loader = Thread.currentThread().getContextClassLoader
    val futures = tasks.map { case (name, job) =>
      io.submit(new Callable[A] {
        override def call(): A = {
          Thread.currentThread().setContextClassLoader(loader)
          sem.acquire()
          try {
            if (!failures.isEmpty) null.asInstanceOf[A] // skipped
            else job()
          } catch {
            case t: Throwable =>
              failures.add(new RuntimeException(
                s"$label task '$name' failed: ${t.getMessage}", t))
              throw t
          } finally sem.release()
        }
      })
    }
    var interrupted = false
    futures.foreach { f =>
      var joined = false
      while (!joined)
        try { f.get(); joined = true }
        catch {
          case _: ExecutionException => joined = true
          case e: InterruptedException =>
            if (!interrupted) failures.add(e)
            interrupted = true
        }
    }
    if (interrupted) Thread.currentThread().interrupt()
    val first = failures.poll()
    if (first != null) {
      failures.forEach(first.addSuppressed(_))
      throw first
    }
    futures.map(_.get())
  }

  /** [[runAll]] for two tasks whose results differ in type. */
  def runPair[A, B](label: String)(a: (String, () => A),
      b: (String, () => B)): (A, B) = {
    val Seq(x, y) = runAll[Any](label, 2)(Seq(a, b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}
