package graft.plans

/** Debugging aid: run one registered query and print its EXECUTED plan
  * (post-AQE), plus counts of the operators that matter for the 100 TB
  * audit (exchanges, reuses, scans). Usage:
  *   sbt "runMain graft.plans.PlanDump <sfDir> <queryName> [full]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val spark = graft.Session.local()
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    // Execute through THIS QueryExecution (not a fresh one from write())
    // so AQE finalizes it and stage/exchange reuse shows in the dump.
    df.queryExecution.executedPlan.execute().count()
    // AQE's toString appends the initial plan below the final one —
    // count only the final section.
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    def count(needle: String) = needle.r.findAllIn(plan).length
    println(s"exchanges=${count("Exchange hashpartitioning") + count("Exchange rangepartitioning")}")
    println(s"reused=${count("ReusedExchange") + count("ReusedQueryStage") + count("TableCacheQueryStage")}")
    println(s"parquet_scans=${count("Scan parquet")}")
    println(s"broadcasts=${count("BroadcastExchange")}")
    if (args.length > 2) println(plan)
    spark.stop()
  }
}
