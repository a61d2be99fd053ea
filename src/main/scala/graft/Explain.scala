package graft

/** Plan-inspection aid: `runMain graft.Explain t17 q59` prints the
  * formatted physical plan of every query whose name starts with an
  * argument, against `SPARK_GRAFT_SF_DIR` (default sf0.001), on a
  * [[Session.local]] session: the `.explain("formatted")` check after
  * each operator change, as one sbt invocation. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local()
    val wanted = if (args.isEmpty) Seq("q01") else args.toSeq
    SparkEntry.allQueries
      .filter(q => wanted.exists(q.name.startsWith))
      .foreach { q =>
        println(s"\n=== ${q.name} ===")
        q.run(spark, sfDir).explain("formatted")
      }
    spark.stop()
  }
}
