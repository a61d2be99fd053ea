package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.{HllDistinct, HllEstimate, HllSketch, HllUnion}

/** Ground truth for the custom HLL aggregate: accuracy within the
  * published error envelope, and bit-identical results under any
  * partitioning (the property that makes it safe — and oracle-able — on
  * a cluster). */
class HllSpec extends SparkSpec {

  import spark.implicits._

  test("estimate is within the m=256 error envelope (~6.5% sigma)") {
    val n = 5000
    val df = (1L to n).toDF("v")
    val est = df.agg(HllDistinct(col("v")).as("e")).head.getDouble(0)
    assert(math.abs(est - n) / n < 0.2, s"estimate $est for exact $n")
  }

  test("small cardinalities hit the linear-counting range exactly") {
    val df = (1L to 30L).toDF("v")
    val est = df.agg(HllDistinct(col("v")).as("e")).head.getDouble(0)
    // 30 distinct over 256 registers: linear counting is near-exact
    assert(math.abs(est - 30.0) < 3.0, s"estimate $est for exact 30")
  }

  test("result is identical under any partitioning (merge is order-free)") {
    val vals = (1L to 2000L).map(v => v * 2654435761L)
    val a = vals.toDF("v").repartition(1)
      .agg(HllDistinct(col("v"))).head.getDouble(0)
    val b = vals.toDF("v").repartition(13)
      .agg(HllDistinct(col("v"))).head.getDouble(0)
    val c = vals.reverse.toDF("v").repartition(7)
      .agg(HllDistinct(col("v"))).head.getDouble(0)
    assert(a == b && b == c, s"partitioning changed the sketch: $a $b $c")
  }

  test("nulls are ignored; duplicates do not move the estimate") {
    val base = (1L to 100L).toDF("v")
    val withDups = ((1L to 100L) ++ (1L to 100L)).toDF("v")
    val e1 = base.agg(HllDistinct(col("v"))).head.getDouble(0)
    val e2 = withDups.agg(HllDistinct(col("v"))).head.getDouble(0)
    val e3 = base.select(when(col("v") > 0, col("v")).as("v"))
      .union(Seq.empty[Option[Long]].toDF("v"))
      .agg(HllDistinct(col("v"))).head.getDouble(0)
    assert(e1 == e2, s"duplicates moved the estimate: $e1 vs $e2")
    assert(e1 == e3, s"null path changed the estimate: $e1 vs $e3")
  }

  // ---------------- persisted sketch family ----------------

  private def vals: Seq[Long] = (1L to 3000L).map(v => v * 2654435761L)

  test("sketch-per-batch + union == direct aggregate, exactly") {
    val direct = vals.toDF("v").agg(HllDistinct(col("v"))).head.getDouble(0)
    for (nBatches <- Seq(2, 5, 16)) {
      val sketches = vals.zipWithIndex
        .map { case (v, i) => (i % nBatches, v) }.toDF("b", "v")
        .groupBy(col("b")).agg(HllSketch(col("v")).as("sk"))
      val est = sketches
        .agg(HllEstimate(HllUnion(col("sk"))).as("e")).head.getDouble(0)
      assert(est == direct,
        s"$nBatches-batch incremental path diverged: $est vs $direct")
    }
  }

  test("sketch bytes are deterministic under any partitioning") {
    def bytes(np: Int) = vals.toDF("v").repartition(np)
      .agg(HllSketch(col("v"))).head.getAs[Array[Byte]](0).toSeq
    assert(bytes(1) == bytes(13))
  }

  test("union is idempotent: replayed batches cannot inflate the count") {
    val sk = vals.toDF("v").agg(HllSketch(col("v")).as("sk"))
    val replayed = sk.unionByName(sk).unionByName(sk)
      .agg(HllEstimate(HllUnion(col("sk")))).head.getDouble(0)
    val once = sk.agg(HllEstimate(HllUnion(col("sk")))).head.getDouble(0)
    assert(replayed == once)
  }

  test("persisted sketch table round-trips through parquet") {
    val dir = tempDir("graft-hll").toString
    val direct = vals.toDF("v").agg(HllDistinct(col("v"))).head.getDouble(0)
    vals.zipWithIndex.map { case (v, i) => (i % 4, v) }.toDF("b", "v")
      .groupBy(col("b")).agg(HllSketch(col("v")).as("sk"))
      .write.mode("overwrite").parquet(dir)
    val est = spark.read.parquet(dir)
      .agg(HllEstimate(HllUnion(col("sk")))).head.getDouble(0)
    assert(est == direct, s"parquet round-trip diverged: $est vs $direct")
  }

  test("hll_estimate of a single sketch equals hll_distinct; SQL faces work") {
    val direct = vals.toDF("v").agg(HllDistinct(col("v"))).head.getDouble(0)
    val viaSketch = vals.toDF("v")
      .agg(HllEstimate(HllSketch(col("v")))).head.getDouble(0)
    assert(viaSketch == direct)
    graft.functions.GraftFunctions.registerAll(spark)
    vals.toDF("v").createOrReplaceTempView("hll_in")
    val viaSql = spark.sql(
      """SELECT hll_estimate(hll_union(sk)) FROM
        |  (SELECT hll_sketch(v) AS sk FROM hll_in GROUP BY v % 3)""".stripMargin)
      .head.getDouble(0)
    assert(viaSql == direct)
  }

  test("hll_union rejects a malformed sketch length") {
    val bad = Seq(Array[Byte](1, 2, 3)).toDF("sk")
    val e = intercept[Exception](
      bad.agg(HllEstimate(HllUnion(col("sk")))).head.getDouble(0))
    assert(e.getMessage != null)
  }
}
