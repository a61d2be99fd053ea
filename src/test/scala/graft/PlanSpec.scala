package graft

import org.apache.spark.sql.DataFrame
import graft.queries.{Corpus, Relational}

/** Plan-shape regression tests. These pin the properties that make the
  * plans survive a 100-1000x scale-up — filters reaching the parquet
  * scan, projection pruning, no cartesian products, partial aggregation
  * before exchanges, broadcast dimensions —
  * so a refactor that silently loses one fails CI, not the cluster. */
class PlanSpec extends SparkSpec {

  private val sf = sf0001

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString("UTF-8")
  }

  test("q01: shipdate filter is pushed to the parquet scan") {
    val p = formatted(Relational.q01_agg_pricing.run(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q01: aggregation is partial before the exchange") {
    val p = formatted(Relational.q01_agg_pricing.run(spark, sf))
    assert(p.contains("partial_sum"), p)
  }

  test("q02: scan reads only the projected columns") {
    val p = formatted(Relational.q02_filter_project.run(spark, sf))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // projection pruning: the lineitem scan must not read all 16 columns
    assert(!read.contains("l_comment") && !read.contains("l_tax"), read)
  }

  test("q17: five-way join plans without a cartesian product") {
    val p = planOf(Relational.q17_join5_revenue.run(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q17: dimension tables broadcast (no shuffle on the small side)") {
    val p = planOf(Relational.q17_join5_revenue.run(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("d03: LSH banding never plans a cartesian product") {
    val p = planOf(Corpus.d03_minhash_pairs.run(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("t01/m01 text+blob kernels stay scan-local (no exchange before project)") {
    // whole pipeline of per-row kernels: exactly zero shuffles except the
    // oracle-mandated output sort and the round-15 input scan fan-out
    // (an explicitly requested REPARTITION_BY_NUM on the small test files)
    val p = planOf(Corpus.t01_token_stats.run(spark, sf))
    val exchanges = "Exchange".r.findAllIn(p).length
    val rangeExchanges = "rangepartitioning".r.findAllIn(p).length
    val fanOuts = "REPARTITION_BY_NUM".r.findAllIn(p).length
    assert(exchanges == rangeExchanges + fanOuts,
      s"non-sort exchange in t01:\n${p.take(2000)}")
  }

  test("s01: corpus side is not shuffled (queries broadcast)") {
    val p = planOf(Corpus.s01_knn_brute.run(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("s01: top-k rank filter plans as WindowGroupLimit (partial per-partition top-k)") {
    // the property that makes per-query top-k scale: each partition keeps
    // only its local k before the window shuffle, instead of sorting the
    // full candidate set in one task per query
    val p = planOf(Corpus.s01_knn_brute.run(spark, sf))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q43: stratified-sample quota filter also gets WindowGroupLimit") {
    val p = planOf(Relational.q43_stratified_sample.run(spark, sf))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("d08: chunk dedup plans hash joins only, winner shuffle keyed by chunk") {
    val p = planOf(Corpus.d08_chunk_dedup.run(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the winner window partitions by the chunk text — high-cardinality
    // key, the property that prevents skew at scale
    assert(p.contains("hashpartitioning(__chunk"), p.take(3000))
  }

  test("d09: decontamination joins on the shingle hash, never all-pairs") {
    val p = planOf(Corpus.d09_decontaminate.run(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // equi-join keyed by the 64-bit shingle hash (__h)
    assert(p.contains("__h"), p.take(3000))
  }

  test("q53: salted join shuffles on (key, salt) — the hot-key spread") {
    val p = planOf(Relational.q53_salted_join.run(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("__salt"), p.take(3000))
  }

  test("p03: deterministic split is one partial-aggregated exchange, no sort of the data") {
    val p = planOf(Corpus.p03_split.run(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(2000))
    // only the 3-row output sort may range-partition; the corpus itself
    // is never range-shuffled
    val rangeExchanges = "rangepartitioning".r.findAllIn(p).length
    assert(rangeExchanges <= 1, p.take(3000))
  }

  test("t08: tf-idf top-k window plans as WindowGroupLimit, no global sort of terms") {
    val p = planOf(Corpus.t08_tfidf.run(spark, sf))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    // the (term) join must be a hash join, not nested-loop/cartesian
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")
      || p.contains("n_docs"), p.take(3000)) // the 1-row N broadcast is the only NL join allowed
  }

  test("q55: bloom membership filter evaluates on the scan side, below the join") {
    val p = planOf(Relational.q55_bloom_join.run(spark, sf))
    assert(p.contains("bloom_might_contain"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q61: quantile-bin boundaries broadcast onto the scan, no global sort of the data") {
    val p = planOf(Relational.q61_quantile_bins.run(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p.take(3000))
    // the only Sort allowed is the 4-row final orderBy; the 6M-row side
    // must reach its aggregate without a global sort
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  // ---------------- §2.4 loop pre-partition guards (round 16) ----------------

  /** Shuffle exchanges that re-partition a CACHED relation directly
    * (only narrow row-level ops between exchange and cache scan) — the
    * §2.4 waste the round-15 loop pre-partitions removed: a static loop
    * input cached on the wrong key re-shuffles every round. Aggregates
    * and joins between the exchange and the cache are real work, not a
    * re-shuffle, and don't count. */
  private def cacheReshuffles(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def narrowToCache(q: SparkPlan): Boolean = q match {
      case _: columnar.InMemoryTableScanExec => true
      case x: ProjectExec => narrowToCache(x.child)
      case x: FilterExec => narrowToCache(x.child)
      case x: WholeStageCodegenExec => narrowToCache(x.child)
      case x: InputAdapter => narrowToCache(x.child)
      case x: ColumnarToRowExec => narrowToCache(x.child)
      case _ => false
    }
    // the round's work hides inside InMemoryRelation BUILD plans (the
    // action that first touches a cached round executes its build), and
    // `collect` treats InMemoryTableScanExec as a leaf — recurse into
    // each cached plan explicitly
    def walk(q: SparkPlan): Seq[SparkPlan] = {
      val here = q.collect { case n => n }
      here ++ here.flatMap {
        case s: columnar.InMemoryTableScanExec => walk(s.relation.cachedPlan)
        case _ => Seq.empty
      }
    }
    walk(p).collect {
      case s: ShuffleExchangeExec if narrowToCache(s.child) =>
        s"${s.nodeName}(${s.outputPartitioning})"
    }
  }

  test("CC loop contract: the pre-partitioned edge cache never re-shuffles (§2.4)") {
    import spark.implicits._
    withConf("spark.sql.adaptive.enabled" -> "false",
        // force shuffle joins: at test row counts everything broadcasts
        // and the guard would never see the exchange it pins against
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L), (7L, 8L),
        (1L, 9L), (9L, 12L), (5L, 13L)).toDF("id_a", "id_b")
      val offending = capturePlans {
        graft.operators.Dedup.connectedComponents(pairs).collect(); ()
      }.map(_.executedPlan).flatMap(cacheReshuffles)
      assert(offending.isEmpty, offending.mkString("\n"))
    }
  }

  test("ANF loop contract: the adjacency cache never re-shuffles (§2.4)") {
    import spark.implicits._
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 5L),
        (5L, 6L)).toDF("src", "dst")
      val offending = capturePlans {
        graft.operators.Graph.anfProfile(edges, "src", "dst", radius = 3)
          .collect(); ()
      }.map(_.executedPlan).flatMap(cacheReshuffles)
      assert(offending.isEmpty, offending.mkString("\n"))
    }
  }

  test("LPA loop contract: the edge cache never re-shuffles (§2.4)") {
    import spark.implicits._
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 4L, 2L),
        (4L, 1L, 1L), (2L, 5L, 4L)).toDF("src", "dst", "w")
      val seeds = Seq((1L, 10L), (4L, 20L)).toDF("node", "label")
      val offending = capturePlans {
        graft.operators.Graph.labelPropagationQuantized(
          edges, "src", "dst", "w", seeds, "node", "label", iters = 3)
          .collect(); ()
      }.map(_.executedPlan).flatMap(cacheReshuffles)
      assert(offending.isEmpty, offending.mkString("\n"))
    }
  }

  test("hive-partitioned write prunes partitions at the source (PartitionFilters)") {
    val dir = tempDir("graft-partwrite").toString
    val events = Tables(spark, sf).events
      .withColumn("day", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")))
    events.write.mode("overwrite").partitionBy("day").parquet(dir)
    val read = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("day") ===
        java.sql.Date.valueOf("2024-01-02"))
    val p = formatted(read)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    // the day predicate must prune directories, not filter rows post-scan
    assert(pf.contains("isnotnull(day") || pf.contains("(day"), p.take(3000))
    assert(read.count() > 0)
  }
}
