package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session): the
  * production `Sessions.local`, so the suite runs the engine's plans. */
object TestSession {
  lazy val spark: SparkSession = {
    // the session catalog's managed tables go to a temp dir, not the
    // working directory; SparkConf picks up spark.* system properties
    System.setProperty("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft-warehouse").toString)
    val s = graft.core.Sessions.local("graft-test", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString
  /** All messages down the cause chain, joined — streaming failures
    * bury the real refusal a few causes deep. */
  def causeMessages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
  def ts(s: String): Timestamp = Timestamp.valueOf(s)
  val t0: Timestamp = Timestamp.valueOf("2026-01-15 12:00:00")
}
