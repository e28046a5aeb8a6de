package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}

import graft.core.{Pools, Sessions}

/** `Sessions.local` makes each generated class compile once per JVM:
  * the driver thread that built the session, `Pools.runAll` tasks and
  * Spark tasks run under one context class loader, the key of Spark's
  * compiled-class cache, and session artifact isolation is off. */
class SessionsSpec extends SparkSpec {
  import SessionsSpec.loaderId

  // building through the factory on this thread installs the task
  // threads' loader here, whichever suite built the shared session
  private lazy val session: SparkSession = {
    TestSession.spark
    val s = Sessions.local("graft-test", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("driver, pool and task threads share one context class loader") {
    session // built on this thread
    val driver = loaderId
    val pool = Pools.runAll("loader", 2)(Seq("a", "b").map(n =>
      n -> (() => loaderId)))
    val rdd = session.sparkContext.parallelize(0 until 4, 4)
      .map(_ => loaderId).collect().toSeq
    import session.implicits._
    val ds = session.range(0, 4, 1, 4).map(_ => loaderId).collect().toSeq
    assert((pool ++ rdd ++ ds).distinct === Seq(driver))
  }

  test("a class compiled on the driver is a cache hit in a task") {
    session
    // a source no other test compiles, so the first compile is a miss
    val code = new CodeAndComment(
      s"""public Object generate(Object[] references) {
         |  return Long.valueOf(${System.nanoTime()}L);
         |}""".stripMargin, Map.empty[String, String])
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    CodeGenerator.compile(code)
    assert(compiles - c0 === 1)
    val inTask = session.sparkContext.parallelize(Seq(0), 1).map { _ =>
      val c1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      CodeGenerator.compile(code)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c1
    }.collect().head
    assert(inTask === 0)
  }

  test("session artifact isolation is off") {
    assert(session.conf.get("spark.sql.artifact.isolation.enabled") === "false")
  }
}

object SessionsSpec {
  // in the companion, so task closures capture no suite instance
  def loaderId: Int =
    System.identityHashCode(Thread.currentThread().getContextClassLoader)
}
