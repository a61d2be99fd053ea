package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.ZOrderN
import graft.operators.Layout

/** Ground truth for Z-order layout: the interleave expression against a
  * reference implementation, null/codegen behavior, and the property the
  * whole operator exists for — a box predicate touches far fewer
  * z-ordered partitions than single-column-ordered ones. */
class LayoutSpec extends SparkSpec {

  import spark.implicits._

  private def refZ(bits: Int, vals: Seq[Long]): Long = {
    var z = 0L
    for (j <- vals.indices; i <- 0 until bits)
      z |= (((vals(j) & ((1L << bits) - 1)) >>> i) & 1L) << (i * vals.size + j)
    z
  }

  test("zorder matches the reference interleave (2 and 3 columns)") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(500)((rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong))
    val df = rows.toDF("x", "y", "w")
    val got2 = df.select(ZOrderN(12)(col("x"), col("y"))).as[Long].collect()
    val got3 = df.select(ZOrderN(4)(col("x"), col("y"), col("w"))).as[Long].collect()
    rows.zip(got2).foreach { case ((x, y, _), z) =>
      assert(z == refZ(12, Seq(x, y)), s"($x,$y)")
    }
    rows.zip(got3).foreach { case ((x, y, w), z) =>
      assert(z == refZ(4, Seq(x, y, w)), s"($x,$y,$w)")
    }
  }

  test("null input nulls the z-value; interpreted eval agrees with codegen") {
    val df = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), None))
      .toDF("x", "y")
    val got = df.select(ZOrderN(8)(col("x"), col("y"))).collect()
    assert(!got(0).isNullAt(0) && got(1).isNullAt(0) && got(2).isNullAt(0))
    // interpreted path (eval) must agree with the codegen'd result
    import graft.functions.expressions.{ZOrderN => ZN}
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.InternalRow
    val e = ZN(Seq(Literal(5L), Literal(9L)), 8)
    assert(e.eval(InternalRow.empty) == refZ(8, Seq(5L, 9L)))
  }

  test("z-ordered layout prunes a box predicate; single-column order does not") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    // sf0.001 ranges: l_partkey 0..199, l_suppkey 0..9 — box must be inside
    val parts = 32
    val box = col("l_partkey").between(50, 120) && col("l_suppkey").between(2, 4)

    def touched(df: org.apache.spark.sql.DataFrame): Long =
      df.withColumn("__pid", spark_partition_id())
        .filter(box).select("__pid").distinct().count()

    assert(li.filter(box).count() > 0, "box predicate must match rows")
    val zed = Layout.zorderLayout(li, Seq("l_partkey", "l_suppkey"), parts)
    val singleOrdered = li.repartitionByRange(parts, col("l_orderkey"))
    val zTouched = touched(zed)
    val sTouched = touched(singleOrdered)
    assert(zTouched * 2 <= sTouched,
      s"z-order touched $zTouched of $parts, single-column $sTouched")
    // and the layout loses no rows
    assert(zed.count() == li.count())
  }

  test("manifest pruning: pruned read is a superset, equality after filter, fewer files") {
    val dir = tempDir("graft-zorder").toString
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    Layout.zorderLayout(li, Seq("l_partkey", "l_suppkey"), 32)
      .write.mode("overwrite").parquet(dir)
    val manifest = Layout.fileStats(spark, dir, Seq("l_partkey", "l_suppkey")).cache()
    val totalFiles = manifest.count()
    val ranges = Map("l_partkey" -> (50L, 120L), "l_suppkey" -> (2L, 4L))
    val keptFiles = Layout.pruneFiles(manifest, ranges).count()
    assert(keptFiles > 0 && keptFiles * 2 <= totalFiles,
      s"pruning kept $keptFiles of $totalFiles files")
    val predicate = col("l_partkey").between(50, 120) &&
      col("l_suppkey").between(2, 4)
    val viaPruned = Layout.prunedRead(spark, manifest, ranges)
      .filter(predicate)
      .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_quantity").collect()
    val viaFull = spark.read.parquet(dir).filter(predicate)
      .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_quantity").collect()
    assert(viaPruned.toSeq == viaFull.toSeq)
    assert(viaFull.nonEmpty)
  }

  test("partitioned write prunes directories at planning time") {
    import graft.operators.Layout
    val docs = Tables(spark, sf0001).documents
    val dir = tempDir("graft_part_spec").toString
    Layout.writePartitioned(docs, dir, Seq("lang"))
    val back = Layout.readPartitioned(spark, dir)
    // round trip preserves every row (partition cols come back last)
    assert(back.count() == docs.count())
    val filtered = back.filter(col("lang") === "en")
    val scan = filtered.queryExecution.executedPlan.toString
    // the lang predicate must land in PartitionFilters (directory
    // pruning), not survive as a post-scan Filter over all partitions
    assert(scan.contains("PartitionFilters") && scan.contains("lang"), scan)
    val expected = docs.filter(col("lang") === "en").count()
    assert(filtered.count() == expected && expected > 0)
    // only the en directory's files are read
    val files = filtered.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("lang=en")), files.mkString(", "))
  }

  test("withZValue is deterministic and integer-exact across partitionings") {
    // z depends only on (l_partkey, l_suppkey); key the compare on those
    // ((l_orderkey, l_linenumber) is NOT unique in the sf0.001 testdata)
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_partkey", "l_suppkey")
    def zmap(parts: Int) =
      Layout.withZValue(li.repartition(parts), Seq("l_partkey", "l_suppkey"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(zmap(3) == zmap(11))
  }
}
