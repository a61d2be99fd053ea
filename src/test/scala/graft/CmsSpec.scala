package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.CountMin

/** Ground truth for the Count-Min sketch aggregate: the one-sided error
  * guarantee (estimate >= exact, always), mass conservation per row, and
  * bit-identical sketches under any partitioning — the property that
  * makes the aggregate safe (and exactly oracle-able) on a cluster. */
class CmsSpec extends SparkSpec {

  import spark.implicits._

  private val skewed: Seq[Long] =
    (1L to 50L).flatMap(k => Seq.fill(k.toInt)(k)) // key k appears k times

  test("estimate is never below the exact count (one-sided error)") {
    val df = skewed.toDF("v")
    val sk = df.agg(CountMin.sketch(col("v")).as("sk"))
    val got = df.groupBy(col("v")).agg(count(lit(1)).as("exact"))
      .crossJoin(sk)
      .select(col("v"), CountMin.estimate(col("sk"), col("v")).as("est"), col("exact"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), s"underestimate at key ${r.getLong(0)}: $r")
    }
  }

  test("each sketch row conserves total mass (sum of counters == n)") {
    val df = skewed.toDF("v")
    val sk = df.agg(CountMin.sketch(col("v")).as("sk")).head.getSeq[Long](0)
    assert(sk.length == CountMin.D * CountMin.W)
    (0 until CountMin.D).foreach { r =>
      val rowSum = sk.slice(r * CountMin.W, (r + 1) * CountMin.W).sum
      assert(rowSum == skewed.length.toLong, s"row $r mass $rowSum != ${skewed.length}")
    }
  }

  test("sketch is identical under any partitioning (merge is order-free)") {
    def sk(parts: Int, rev: Boolean) = {
      val vals = if (rev) skewed.reverse else skewed
      vals.toDF("v").repartition(parts)
        .agg(CountMin.sketch(col("v"))).head.getSeq[Long](0)
    }
    val a = sk(1, rev = false)
    assert(a == sk(13, rev = false) && a == sk(7, rev = true))
  }

  test("nulls are ignored") {
    val df = skewed.map(Option(_)).toDF("v")
      .union(Seq.empty[Option[Long]].toDF("v"))
      .union(Seq[Option[Long]](None, None).toDF("v"))
    val sk = df.agg(CountMin.sketch(col("v"))).head.getSeq[Long](0)
    val rowSum = sk.slice(0, CountMin.W).sum
    assert(rowSum == skewed.length.toLong)
  }

  // ---------------- persisted union ----------------

  test("sketch-per-batch + cms_union == direct aggregate, counter-exact") {
    import graft.functions.expressions.CmsUnion
    val direct = skewed.toDF("v").agg(CountMin.sketch(col("v")))
      .head.getSeq[Long](0)
    val unioned = skewed.zipWithIndex
      .map { case (v, i) => (i % 5, v) }.toDF("b", "v")
      .groupBy(col("b")).agg(CountMin.sketch(col("v")).as("sk"))
      .agg(CmsUnion(col("sk"))).head.getSeq[Long](0)
    assert(unioned == direct)
    // estimates from the unioned counters match too
    val est = Seq(unioned.toArray).toDF("sk")
      .select(CountMin.estimate(col("sk"), lit(50L))).head.getLong(0)
    val estDirect = Seq(direct.toArray).toDF("sk")
      .select(CountMin.estimate(col("sk"), lit(50L))).head.getLong(0)
    assert(est == estDirect && est >= 50L)
  }

  test("cms_union survives a parquet round-trip") {
    import graft.functions.expressions.CmsUnion
    val dir = tempDir("graft-cms").toString
    val direct = skewed.toDF("v").agg(CountMin.sketch(col("v")))
      .head.getSeq[Long](0)
    skewed.zipWithIndex.map { case (v, i) => (i % 3, v) }.toDF("b", "v")
      .groupBy(col("b")).agg(CountMin.sketch(col("v")).as("sk"))
      .write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .agg(CmsUnion(col("sk"))).head.getSeq[Long](0)
    assert(got == direct)
  }

  test("cms_union is NOT replay-idempotent — counters double (documented)") {
    import graft.functions.expressions.CmsUnion
    val sk = skewed.toDF("v").agg(CountMin.sketch(col("v")).as("sk"))
    val once = sk.agg(CmsUnion(col("sk"))).head.getSeq[Long](0)
    val twice = sk.unionByName(sk).agg(CmsUnion(col("sk"))).head.getSeq[Long](0)
    assert(twice == once.map(_ * 2),
      "sum-merge must double on replay — exactly-once commits are the fence")
  }

  test("cms_union rejects a malformed counter length") {
    import graft.functions.expressions.CmsUnion
    val bad = Seq(Array(1L, 2L, 3L)).toDF("sk")
    intercept[Exception](bad.agg(CmsUnion(col("sk"))).head)
  }
}
