package graft

import org.apache.spark.sql.functions._

import graft.functions.expressions.Hist

/** The mergeable histogram/quantile sketch: exactness of the counter
  * algebra (sketch-per-batch + union == direct), rank semantics (with
  * bin width 1 the readout IS the exact order statistic), edge and
  * degenerate behavior, and the persistence round-trip. */
class HistSpec extends SparkSpec {

  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  private val vals: Seq[Long] = Seq.fill(3000)(rnd.nextInt(100).toLong)

  private def direct = vals.toDF("v")
    .agg(Hist.sketch(col("v"), 0L, 100L, 100).as("hk"))

  test("sketch-per-batch + union == direct aggregate, counter-exact") {
    val d = direct.head.getSeq[Long](0)
    for (nBatches <- Seq(2, 7)) {
      val u = vals.zipWithIndex.map { case (v, i) => (i % nBatches, v) }
        .toDF("b", "v")
        .groupBy(col("b")).agg(Hist.sketch(col("v"), 0L, 100L, 100).as("hk"))
        .agg(Hist.union(col("hk"))).head.getSeq[Long](0)
      assert(u == d, s"$nBatches-batch union diverged")
    }
  }

  test("bin width 1: the quantile readout IS the exact order statistic") {
    val sorted = vals.sorted
    val sk = direct
    for (qPpm <- Seq(0L, 250000L, 500000L, 900000L, 990000L, 1000000L)) {
      val got = sk.select(Hist.quantileOf(col("hk"), lit(qPpm), 0L, 100L))
        .head.getLong(0)
      val rank = (qPpm * (vals.size - 1) / 1000000L).toInt
      assert(got == sorted(rank), s"q=$qPpm: got $got want ${sorted(rank)}")
    }
  }

  test("out-of-range values land on the range edges") {
    val sk = Seq(-5L, -1L, 50L, 200L, 300L, 400L).toDF("v")
      .agg(Hist.sketch(col("v"), 0L, 100L, 10).as("hk"))
    // ranks 0..5 over [uf, uf, bin(50), of, of, of]
    assert(sk.select(Hist.quantileOf(col("hk"), lit(0L), 0L, 100L))
      .head.getLong(0) == 0L) // underflow -> lo
    assert(sk.select(Hist.quantileOf(col("hk"), lit(1000000L), 0L, 100L))
      .head.getLong(0) == 100L) // overflow -> hi
  }

  test("empty sketch yields null quantile; nulls are ignored") {
    val empty = Seq.empty[Option[Long]].toDF("v")
      .agg(Hist.sketch(col("v"), 0L, 100L, 10).as("hk"))
    assert(empty.select(Hist.quantileOf(col("hk"), lit(500000L), 0L, 100L))
      .head.isNullAt(0))
    val withNulls = Seq[Option[Long]](Some(5L), None, Some(5L)).toDF("v")
      .agg(Hist.sketch(col("v"), 0L, 100L, 10).as("hk"))
    assert(withNulls.head.getSeq[Long](0).sum == 2L)
  }

  test("union is NOT replay-idempotent (counters double, like cms_union)") {
    val sk = direct.select(col("hk"))
    val once = sk.agg(Hist.union(col("hk"))).head.getSeq[Long](0)
    val twice = sk.unionByName(sk).agg(Hist.union(col("hk"))).head.getSeq[Long](0)
    assert(twice == once.map(_ * 2))
  }

  test("persisted sketch table round-trips through parquet") {
    val dir = tempDir("graft-hist").toString
    vals.zipWithIndex.map { case (v, i) => (i % 4, v) }.toDF("b", "v")
      .groupBy(col("b")).agg(Hist.sketch(col("v"), 0L, 100L, 100).as("hk"))
      .write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .agg(Hist.union(col("hk"))).head.getSeq[Long](0)
    assert(got == direct.head.getSeq[Long](0))
  }

  test("psi: zero on identical sketches, symmetric, positive under shift") {
    val a = vals.toDF("v").agg(Hist.sketch(col("v"), 0L, 100L, 20).as("hk"))
      .head.getSeq[Long](0).toArray
    val shifted = vals.map(v => math.min(99L, v + 30L))
    val b = shifted.toDF("v").agg(Hist.sketch(col("v"), 0L, 100L, 20).as("hk"))
      .head.getSeq[Long](0).toArray
    def psiOf(x: Array[Long], y: Array[Long]): Double =
      Seq((x, y)).toDF("a", "b")
        .select(Hist.psi(col("a"), col("b"))).head.getDouble(0)
    assert(psiOf(a, a) == 0.0)
    val d = psiOf(a, b)
    assert(d > 0.25, s"a 30-bucket shift must read as 'shifted', got $d")
    assert(psiOf(b, a) == d, "PSI must be symmetric")
  }

  test("mismatched binning rejected; bad params rejected; SQL faces work") {
    val mixed = Seq(Array.fill(12)(1L), Array.fill(6)(1L)).toDF("hk")
    intercept[Exception](mixed.agg(Hist.union(col("hk"))).head)
    intercept[IllegalArgumentException](
      Seq(1L).toDF("v").agg(Hist.sketch(col("v"), 10L, 10L, 4)).head)
    graft.functions.GraftFunctions.registerAll(spark)
    vals.toDF("v").createOrReplaceTempView("hist_in")
    val viaSql = spark.sql(
      """SELECT hist_quantile(hist_union(hk), 500000, 0, 100) FROM
        |  (SELECT hist_sketch(v, 0, 100, 100) AS hk FROM hist_in GROUP BY v % 3)"""
        .stripMargin).head.getLong(0)
    assert(viaSql == vals.sorted.apply((500000L * (vals.size - 1) / 1000000L).toInt))
  }
}
