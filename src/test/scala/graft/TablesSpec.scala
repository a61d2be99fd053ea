package graft

import java.nio.file.Files

/** [[Tables]] infers each table's schema once per table version: a
  * repeated accessor call runs no footer-inference job, a table rewritten
  * in place is read again (never served a stale schema), the inference
  * settings are part of the key, and the cache holds no session alive. */
class TablesSpec extends SparkSpec {

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])

  /** Stages completed while building the `part` scan of `dir` (no
    * action): > 0 exactly when its schema had to be inferred. */
  private def inferenceStages(session: org.apache.spark.sql.SparkSession, dir: String): Int =
    countWork(Tables(session, dir).part)._2

  test("a repeated accessor call runs no job; a rewrite at the same path is read again") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tables-spec").toString
    val path = s"$dir/part.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("p_partkey", "p_name")
      .write.mode("overwrite").parquet(path)

    assert(inferenceStages(spark, dir) > 0, "the first call infers the schema with a job")
    assert(inferenceStages(spark, dir) == 0, "a warm accessor call ran a job")
    assert(sorted(Tables(spark, dir).part) == Seq(Seq(1L, "a"), Seq(2L, "b")))

    // same path, an extra column and different rows
    Seq((3L, "c", 0.5), (4L, "d", 1.5), (5L, "e", 2.5)).toDF("p_partkey", "p_name", "p_size")
      .write.mode("overwrite").parquet(path)
    val fresh = Tables(spark, dir).part
    assert(fresh.columns.toSeq == Seq("p_partkey", "p_name", "p_size"))
    assert(sorted(fresh) == Seq(Seq(3L, "c", 0.5), Seq(4L, "d", 1.5), Seq(5L, "e", 2.5)))
    assert(inferenceStages(spark, dir) == 0, "the rewritten version is cached too")
  }

  test("the size from the listing drives the scan fan-out") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tables-fan").toString
    (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    // one small file: fewer splits than cores, so the scan fans out
    val plan = Tables(spark, dir).documents.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(doc_id"), plan)
    assert(Tables.scanSplits(spark, 1L) == 1L)
    assert(Tables.scanSplits(spark, 128L * 1024 * 1024 + 1) == 2L)
  }

  test("flipping a parquet inference setting gives a separate cache entry") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tables-conf").toString
    Seq((1L, "a")).toDF("p_partkey", "p_name").write.parquet(s"$dir/part.parquet")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(key -> "false")(assert(inferenceStages(spark, dir) > 0))
    withConf(key -> "true")(assert(inferenceStages(spark, dir) > 0, "flipped: a new entry"))
    withConf(key -> "false")(assert(inferenceStages(spark, dir) == 0, "the first entry stays"))
    withConf(key -> "true")(assert(inferenceStages(spark, dir) == 0))
  }

  test("the listing of a partitioned table equals listFiles(path, recursive = true)") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-tables-listing").resolve("t.parquet").toString
    (0L until 40L).map(i => (i, i % 3, i % 2 == 0)).toDF("id", "a", "b")
      .repartition(2).write.partitionBy("a", "b").parquet(path)
    val hp = new org.apache.hadoop.fs.Path(path)
    val it = hp.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(hp, true)
    val expected = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      expected += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val want = expected.result().sortBy(_._1)
    // two levels of partition directories, a data file in each leaf
    assert(want.count(_._1.contains("/a=1/b=true/")) >= 1, want.mkString("\n"))
    assert(want.exists(_._1.endsWith("_SUCCESS")))
    assert(Tables.listing(spark, path) == want)
  }

  test("the schema cache does not keep a dropped session alive") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tables-gc").toString
    Seq((1L, "a")).toDF("p_partkey", "p_name").write.parquet(s"$dir/part.parquet")
    // a separate session over the shared context, whose schema is then
    // cached, and which is then dropped; a method of its own, so no
    // frame slot of this test keeps it reachable. (An action on it would:
    // Spark's SQL execution tracking holds the session it ran on.)
    def cacheInOtherSession(): java.lang.ref.WeakReference[AnyRef] = {
      val other = spark.newSession()
      assert(inferenceStages(other, dir) > 0)
      assert(inferenceStages(other, dir) == 0, "the other session's entry is cached")
      new java.lang.ref.WeakReference(other)
    }
    val ref = cacheInOtherSession()
    var spins = 0
    while (ref.get != null && spins < 50) {
      System.gc(); Thread.sleep(100); spins += 1
    }
    assert(ref.get == null, "the session is still reachable")
  }
}
