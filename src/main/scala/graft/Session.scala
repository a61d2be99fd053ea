package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a local session: the mains (`Verify`,
  * `Explain`, `plans.PlanDump`, `JobProfile`) and the test suites all
  * call [[Session.local]]. `ChaosCheck` alone builds its own, because it
  * needs a `local-cluster` master and an executor class path. */
object Session {

  /** A `local[cores]` session with `cores` shuffle partitions, AQE on,
    * the UTC session time zone, no UI and WARN logging. Its warehouse is
    * a fresh directory under `java.io.tmpdir`, deleted when the JVM
    * exits: the index queries create managed bucketed tables, and a
    * shared warehouse would carry them from one run into the next.
    * Returns the running session if one exists (`getOrCreate`). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-wh").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse): Unit)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
