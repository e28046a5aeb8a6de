package graft

/** Dev utility: print `explain(formatted)` for named queries (used to
  * refresh PLANS.md after plan-shape changes; not part of the driver
  * contract). Usage: PlanDump <sfDir> <query1,query2,...> */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // "@all" = every non-tx query (tx query FUNCTIONS build tables on
    // call — planning them all is a side-effecting 30 s warm-up, not
    // a plan survey)
    val names: Array[String] =
      if (args(1) == "@all")
        (SparkEntry.queries.keySet -- queries.TxQueries.queries.keySet)
          .toArray.sorted
      else args(1).split(",").map(_.trim)
    val spark = graft.core.Sessions.local("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    // Optional 3rd arg "exec": run the query first (collect) and
    // print the FINAL adaptive plan — the only place runtime
    // ReusedExchange / AQEShuffleRead decisions are visible.
    val exec = args.length > 2 && args(2) == "exec"
    names.foreach { n =>
      println(s"===== $n =====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (exec) df.collect() // drives THIS QueryExecution so AQE finalizes it
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
  }
}
