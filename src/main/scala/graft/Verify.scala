package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query subset (dev loop)]
    val sfDir = args(0); val outDir = args(1)
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    val spark = graft.core.Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // Result dumps are written as INT96, the timestamp form
    // tools/oracle_check.py reads (pandas reads UTC-adjusted micros as
    // tz-aware and its canon() refuses them). Only the dump write
    // switches: each frame is built first, so the tables a tx query
    // builds keep the session's TIMESTAMP_MICROS layout.
    val tsType = "spark.sql.parquet.outputTimestampType"
    val sessionTsType = spark.conf.get(tsType)
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        spark.conf.set(tsType, "INT96")
        try df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        finally spark.conf.set(tsType, sessionTsType)
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles = only match {
      case Some(names) => SparkEntry.oracleSql.filter(kv => names(kv._1))
      case None => SparkEntry.oracleSql
    }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Catalog-vs-dump accounting: a query that THROWS writes no parquet
    // and silently vanishes from a per-query correctness report — an
    // all-green file then can't be told apart from one that never ran
    // the lost queries (it happened in round 9: a testdata timestamp
    // flavor change broke 3 queries and 145/145 looked perfect). The
    // sidecar makes the expected count and the failure list explicit.
    val meta =
      s"""{"n_catalog":${SparkEntry.queries.size},"n_selected":${selected.size},""" +
        s""""n_written":${selected.size - failed.size},"failed":${failed.map(q(_)).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta)
    spark.stop()
  }
}
