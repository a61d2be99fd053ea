package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.Bloom
import graft.operators.Joins

/** Ground truth for the Bloom runtime filter: zero false negatives (the
  * property that makes bloomPrunedJoin's result identical to the plain
  * join), a bounded false-positive rate, order-free merge, and the plan
  * shape — the membership filter must sit BELOW the join's shuffle. */
class BloomSpec extends SparkSpec {

  import spark.implicits._

  test("no false negatives: every inserted key passes the probe") {
    val keys = (1L to 2000L).map(_ * 2654435761L)
    val df = keys.toDF("k")
    val bloom = df.agg(Bloom.agg(col("k"), numBits = 1 << 16).as("bf"))
    val misses = df.crossJoin(bloom)
      .filter(!Bloom.mightContain(col("bf"), col("k")))
      .count()
    assert(misses == 0L)
  }

  test("false-positive rate is within the analytic envelope") {
    val inserted = (1L to 1000L).toDF("k")
    val bloom = inserted.agg(Bloom.agg(col("k"), numBits = 1 << 16).as("bf"))
    // probe 20k keys disjoint from the inserted range
    val absent = (1000001L to 1020000L).toDF("k")
    val fp = absent.crossJoin(bloom)
      .filter(Bloom.mightContain(col("bf"), col("k")))
      .count()
    // k=4, n=1000, m=65536 -> (1-e^(-kn/m))^4 ~ 1.2e-5; allow 100x slack
    assert(fp <= 25, s"false positives: $fp of 20000")
  }

  test("filter bytes are identical under any partitioning (OR-merge)") {
    val keys = (1L to 5000L).map(_ * 40503L)
    def bytes(parts: Int, rev: Boolean) = {
      val vals = if (rev) keys.reverse else keys
      vals.toDF("k").repartition(parts)
        .agg(Bloom.agg(col("k"), numBits = 1 << 14)).head.getAs[Array[Byte]](0)
    }
    assert(java.util.Arrays.equals(bytes(1, rev = false), bytes(13, rev = false)))
    assert(java.util.Arrays.equals(bytes(1, rev = false), bytes(7, rev = true)))
  }

  test("bloomPrunedJoin equals the plain join on real tables") {
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val lineitem = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val pruned = Joins.bloomPrunedJoin(Seq("o_orderkey"))(lineitem, orders)
      .orderBy("o_orderkey", "l_quantity")
    val plain = lineitem.join(orders, Seq("o_orderkey"))
      .orderBy("o_orderkey", "l_quantity")
    assert(pruned.columns.toSeq == plain.columns.toSeq)
    assert(pruned.collect().toSeq == plain.collect().toSeq)
  }

  test("plan: membership filter sits below the join exchange") {
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val lineitem = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val plan = Joins.bloomPrunedJoin(Seq("o_orderkey"))(lineitem, orders)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan.take(3000))
    // the probe must be a pre-shuffle Filter, not a post-join one: in the
    // tree string the filter line appears deeper (after) the join line,
    // attached to the scan side
    val joinLine = plan.linesIterator.indexWhere(l =>
      l.contains("Join") || l.contains("BroadcastHashJoin"))
    val filterLine = plan.linesIterator.indexWhere(_.contains("bloom_might_contain"))
    assert(joinLine >= 0 && filterLine > joinLine,
      s"filter not below join: join@$joinLine filter@$filterLine\n${plan.take(3000)}")
    // and the type mismatch guard trips
    val badDim = orders.withColumn("o_orderkey", col("o_orderkey").cast("int"))
    intercept[IllegalArgumentException] {
      Joins.bloomPrunedJoin(Seq("o_orderkey"))(lineitem, badDim)
    }
  }

  test("a folded filter is bitwise equal to one built at the smaller size") {
    val keys = (1L to 3000L).map(_ * 2654435761L).toDF("k")
    def built(bits: Int) = keys.agg(Bloom.agg(col("k"), numBits = bits)).head.getAs[Array[Byte]](0)
    val big = built(1 << 16)
    for (bits <- Seq(1 << 16, 1 << 12, 1 << 7, 64))
      assert(Bloom.fold(big, bits).toSeq == built(bits).toSeq, s"fold to $bits bits")
    assert(Seq(0L, 1L, 4L, 5L, 186L, 1L << 20).map(Bloom.bitsFor) ==
      Seq(64L, 64L, 64L, 128L, 4096L, 1L << 24))
  }

  test("q55's filter literal is sized from its build side, not the 2^23-bit cap") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.expressions.BloomMightContain
    val q55 = graft.queries.Relational.q55_bloom_join.run(spark, sf0001)
    val literalBytes = q55.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect {
        case BloomMightContain(Literal(b: Array[Byte], _), _, _) => b.length
      }))
    val buildRows = Tables(spark, sf0001).orders
      .filter(col("o_orderdate") >= expr("timestamp'1995-03-01 00:00:00'")
        && col("o_orderdate") < expr("timestamp'1995-04-01 00:00:00'"))
      .count()
    assert(buildRows > 0)
    assert(literalBytes.nonEmpty && literalBytes.forall(_ == Bloom.bitsFor(buildRows) / 8),
      s"literal bytes $literalBytes for $buildRows build rows")
    assert(literalBytes.forall(_ < (1 << 23) / 8))
  }

  // ---------------- persisted union ----------------

  test("filter-per-batch + bloom_union == direct filter, byte-exact; idempotent") {
    import graft.functions.expressions.BloomUnion
    val keys = (1L to 2000L).map(_ * 2654435761L)
    val m = 1 << 12
    val direct = keys.toDF("v")
      .agg(Bloom.agg(col("v"), m).as("bf")).head.getAs[Array[Byte]](0).toSeq
    val perBatch = keys.zipWithIndex
      .map { case (v, i) => (i % 4, v) }.toDF("b", "v")
      .groupBy(col("b")).agg(Bloom.agg(col("v"), m).as("bf"))
    val unioned = perBatch
      .agg(BloomUnion(col("bf"))).head.getAs[Array[Byte]](0).toSeq
    assert(unioned == direct)
    // OR is idempotent: replaying every batch changes nothing
    val replayed = perBatch.unionByName(perBatch)
      .agg(BloomUnion(col("bf"))).head.getAs[Array[Byte]](0).toSeq
    assert(replayed == direct)
  }

  test("bloom_union rejects mismatched filter sizes; empty group is empty") {
    import graft.functions.expressions.BloomUnion
    val mixed = Seq(new Array[Byte](16), new Array[Byte](32)).toDF("bf")
    intercept[Exception](mixed.agg(BloomUnion(col("bf"))).head)
    val empty = Seq.empty[Array[Byte]].toDF("bf")
    assert(empty.agg(BloomUnion(col("bf"))).head.getAs[Array[Byte]](0).isEmpty)
  }
}
