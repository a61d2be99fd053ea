package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Quantized PageRank: exactness against a driver-side integer replica,
  * determinism under repartitioning, mass accounting. */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  // 1→2, 2→3, 3→1, 1→3, 3→4; node 4 is dangling.
  private val edgeSeq = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L))
  private def edges = edgeSeq.toDF("src", "dst")

  /** The operator's integer formula, replayed with plain Scala maps. */
  private def replica(iters: Int): Map[Long, Long] = {
    val scale = 1000000L
    val nodes = edgeSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val odeg = edgeSeq.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = nodes.size.toLong
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 0 until iters) {
      val dangling = nodes.filterNot(odeg.contains).map(r).sum
      val contrib = edgeSeq
        .groupBy(_._2)
        .map { case (d, es) => d -> es.map(e => r(e._1) / odeg(e._1)).sum }
      r = nodes.map(v =>
        v -> (150000L + 85L * (contrib.getOrElse(v, 0L) + dangling / n) / 100L)).toMap
    }
    r
  }

  test("matches the driver-side integer replica exactly") {
    for (iters <- Seq(0, 1, 3)) {
      val got = Graph.pagerankQuantized(edges, "src", "dst", iters)
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
      assert(got == replica(iters), s"iters=$iters")
    }
  }

  test("bit-identical under repartitioning") {
    val a = Graph.pagerankQuantized(edges, "src", "dst", 2)
      .orderBy("node").collect().toSeq
    val b = Graph.pagerankQuantized(edges.repartition(7), "src", "dst", 2)
      .orderBy("node").collect().toSeq
    assert(a == b)
  }

  test("personalized pagerank matches its replica; unreachable nodes stay at zero") {
    // extend the graph with 5→6, disconnected from the 1-4 component
    val ext = (edgeSeq :+ (5L, 6L)).toDF("src", "dst")
    val extSeq = edgeSeq :+ (5L, 6L)
    def replica2(seeds: Set[Long], iters: Int): Map[Long, Long] = {
      val scale = 1000000L
      val nodes = extSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val odeg = extSeq.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      val ns = seeds.size.toLong
      var r = nodes.map(v => v -> (if (seeds(v)) scale else 0L)).toMap
      for (_ <- 0 until iters) {
        val dangling = nodes.filterNot(odeg.contains).map(r).sum
        val contrib = extSeq
          .groupBy(_._2)
          .map { case (d, es) => d -> es.map(e => r(e._1) / odeg(e._1)).sum }
        r = nodes.map { v =>
          val s = if (seeds(v)) 1L else 0L
          v -> (s * 150000L + 85L * (contrib.getOrElse(v, 0L) + s * (dangling / ns)) / 100L)
        }.toMap
      }
      r
    }
    for (iters <- Seq(0, 1, 3)) {
      val seeds = Seq(1L).toDF("node")
      val got = Graph
        .personalizedPagerankQuantized(ext, "src", "dst", seeds, "node", iters)
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
      assert(got == replica2(Set(1L), iters), s"iters=$iters")
      // 5 and 6 are unreachable from the seed: exactly zero, every round
      assert(got(5L) == 0L && got(6L) == 0L, s"iters=$iters: $got")
    }
    // seed ∉ edge nodes: appears in the output with its teleport mass
    val isolated = Graph
      .personalizedPagerankQuantized(ext, "src", "dst",
        Seq(99L).toDF("node"), "node", iters = 1)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(isolated(99L) > 0L && isolated.removed(99L).values.forall(_ == 0L),
      isolated.toString)
  }

  test("duplicate edges collapse; totals stay in the expected band") {
    val dup = edges.union(edges)
    val got = Graph.pagerankQuantized(dup, "src", "dst", 2)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(got == replica(2))
    // Mass ≈ N×scale, reduced only by integer truncation.
    val total = got.values.sum
    assert(total <= 4L * 1000000L && total > 4L * 1000000L - 100L)
  }

  // ---------------- HITS ----------------

  test("hitsQuantized matches the hand-computed star graph") {
    // a->b, a->c, d->b at scale 100, 1 round:
    //   auth raw: b = h(a)+h(d) = 200, c = h(a) = 100; max 200
    //   auth: b = 100, c = 100*100 div 200 = 50; hubs a,d = 0 auth
    //   hub raw: a = auth(b)+auth(c) = 150, d = auth(b) = 100; max 150
    //   hub: a = 100, d = 100*100 div 150 = 66
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val got = Graph.hitsQuantized(e, "src", "dst", iters = 1, scale = 100L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> (100L, 0L), 2L -> (66L, 0L),
      10L -> (0L, 100L), 11L -> (0L, 50L)), got.toString)
  }

  test("hitsQuantized invariants on the trade graph: bipartite zeros, bounds, stability") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val ord = t.orders
    val li = t.lineitem
    val ed = ord
      .join(li, ord("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.hitsQuantized(df, "src", "dst", iters = 2)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = run(ed)
    assert(got.nonEmpty)
    got.foreach { case (node, (hub, auth)) =>
      assert(hub >= 0L && hub <= 1000000L && auth >= 0L && auth <= 1000000L)
      // bipartite: customers (even) never receive, suppliers (odd) never point
      if (node % 2 == 0) assert(auth == 0L, s"customer $node has auth")
      else assert(hub == 0L, s"supplier $node has hub")
    }
    // max-normalization: some hub and some auth hit scale exactly
    assert(got.values.exists(_._1 == 1000000L) && got.values.exists(_._2 == 1000000L))
    // pure function of the graph: repartition/duplicate edges change nothing
    assert(run(ed.repartition(7).union(ed)) == got)
  }

  test("hitsQuantized: iters=0 and empty-graph degenerate cases") {
    val e = Seq((1L, 10L)).toDF("src", "dst")
    val zero = Graph.hitsQuantized(e, "src", "dst", iters = 0, scale = 100L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(zero == Map(1L -> (100L, 0L), 10L -> (100L, 0L))) // init state
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.hitsQuantized(empty, "src", "dst", iters = 2).count() == 0L)
  }

  // label propagation fixture: 1 and 2 are seeds (labels 10, 20);
  // 3 hears both with the weights under test; 4 hears only 3 (two hops
  // from any seed); 5's only neighbor 6 is never labeled; seed 2 also
  // hears seed 1 at overwhelming weight (immutability probe).
  private def lpEdges(w31: Long, w32: Long) = Seq(
    (3L, 1L, w31), (3L, 2L, w32), (4L, 3L, 7L), (5L, 6L, 9L), (2L, 1L, 999L)
  ).toDF("src", "dst", "w")
  private val lpSeeds = Seq((1L, 10L), (2L, 20L)).toDF("node", "label")

  private def lpRun(edges: org.apache.spark.sql.DataFrame, iters: Int) =
    Graph.labelPropagationQuantized(
      edges, "src", "dst", "w", lpSeeds, "node", "label", iters)
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  test("label propagation: weighted votes, smaller-label tie-break, seed immutability, unreached stay null") {
    // equal weights: the tie breaks to the smaller label
    val tied = lpRun(lpEdges(5L, 5L), iters = 2)
    assert(tied(3L) == Some(10L), s"tie must break to the smaller label: $tied")
    // heavier side wins regardless of label order
    assert(lpRun(lpEdges(3L, 5L), iters = 2)(3L) == Some(20L))
    // seeds never change, even with a dominant labeled neighbor
    assert(tied(1L) == Some(10L) && tied(2L) == Some(20L))
    // labels reach radius <= iters: node 4 is two hops out
    assert(lpRun(lpEdges(5L, 5L), iters = 1)(4L) == None)
    assert(tied(4L) == Some(10L))
    // nodes no labeled path reaches stay null — the coverage signal
    assert(tied(5L) == None && tied(6L) == None)
    // iters=0 returns exactly the seeded state
    val zero = lpRun(lpEdges(5L, 5L), iters = 0)
    assert(zero(3L) == None && zero(1L) == Some(10L))
  }

  test("label propagation: bit-identical under repartitioning") {
    val a = lpRun(lpEdges(4L, 6L), iters = 3)
    val b = lpRun(lpEdges(4L, 6L).repartition(7), iters = 3)
    assert(a == b)
  }

  test("label propagation composes with IVF-built edges: full-probe equals the brute-force gate") {
    // the 100 TB story: the operator only sees an edge list, so the
    // exact brute-force build (the oracle gate) and an ANN build are
    // interchangeable — with a full probe budget the IVF candidates
    // ARE brute force, so the propagated labels must match exactly
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    import org.apache.spark.sql.functions._
    val centroids = graft.operators.Similarity
      .sampleCentroids(emb, "vec_id", "embedding", 8)
    def labels(knn: org.apache.spark.sql.DataFrame) = Graph
      .labelPropagationQuantized(
        knn.select(col("query_id").as("src"), col("neighbor_id").as("dst"),
          greatest(lit(0L), round(col("cosine") * 1000000.0, 0).cast("long")).as("w")),
        "src", "dst", "w",
        seeds = emb.filter(col("vec_id") % 4 === 0), "vec_id", "label",
        iters = 2)
      .orderBy("node").collect().map(_.toSeq).toSeq
    val viaBrute = labels(graft.operators.Similarity.bruteForceKnn(
      emb, emb, "vec_id", "embedding", k = 10))
    val viaIvf = labels(graft.operators.Similarity.ivfKnn(
      emb, emb, "vec_id", "embedding", k = 10,
      centroids = centroids, nProbe = 8))
    assert(viaBrute.nonEmpty && viaIvf == viaBrute)
  }

  test("community labels: dense cliques keep separate labels across a weak link; deterministic") {
    // two directed triangles at weight 10, one weak 3->4 bridge at 1:
    // the bridge can never outvote a clique, so labels stay within
    // their own clique whatever the synchronous dynamics do
    def tri(a: Long, b: Long, c: Long) =
      Seq((a, b), (b, a), (a, c), (c, a), (b, c), (c, b)).map { case (s, d) => (s, d, 10L) }
    val edges = (tri(1L, 2L, 3L) ++ tri(4L, 5L, 6L) :+ ((3L, 4L, 1L)))
      .toDF("src", "dst", "w")
    def run(df: org.apache.spark.sql.DataFrame) = Graph
      .communityLabelsQuantized(df, "src", "dst", "w", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(edges)
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(got.values.forall(_ != 0L) || true) // every node labeled (non-null)
    assert(Set(1L, 2L, 3L).forall(n => Set(1L, 2L, 3L)(got(n))), got.toString)
    assert(Set(4L, 5L, 6L).forall(n => Set(4L, 5L, 6L)(got(n))), got.toString)
    assert(run(edges.repartition(5)) == got)
  }

  // ---------------- scale pins: loop-input persistence & job shape ----------------

  // withConf / countWork now live on SparkSpec (round 10: the same
  // loop-hygiene pins extend to Bradley–Terry, connectedComponents,
  // and unigram EM in their own suites)

  test("pagerank per-round work is flat: persisted loop inputs, 1 driver action per round") {
    // AQE off for deterministic stage accounting (AQE re-plans stages);
    // the DELTA between iteration counts isolates per-round cost from
    // setup (node count, persist materialization, result collect).
    withConf("spark.sql.adaptive.enabled" -> "false") {
      def run(iters: Int) = countWork {
        Graph.pagerankQuantized(edges, "src", "dst", iters).collect(); ()
      }
      run(1) // warm (fills no cross-call cache, but settles codegen/JIT)
      val (j1, s1) = run(1)
      val (j4, s4) = run(4)
      // per round: ONLY the eager lineage cut — the dangling mass rides
      // the cut's plan as a broadcast single-row crossJoin (round 10;
      // previously a separate collect made it 2 actions/round)
      assert(j4 - j1 == 3, s"driver jobs per round: j1=$j1 j4=$j4 (want 1/round)")
      // Un-persisted loop inputs re-execute the edge distinct() + the
      // out-degree groupBy + the ew join from source EVERY round — at
      // least 3 extra completed stages per round. Persisted, a round
      // completes ~8 stages (cached scans + the round's own shuffles);
      // the bound sits between the two regimes.
      val perRound = (s4 - s1) / 3.0
      assert(perRound <= 11.0,
        s"stages per round: s1=$s1 s4=$s4 perRound=$perRound — loop inputs recomputed?")
    }
  }

  test("HITS per-round work is flat and a round is ONE driver action (no max collects)") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val e = Seq((1L, 10L), (1L, 11L), (2L, 10L), (11L, 2L)).toDF("src", "dst")
      def run(iters: Int) = countWork {
        Graph.hitsQuantized(e, "src", "dst", iters).collect(); ()
      }
      run(1)
      val (j1, s1) = run(1)
      val (j4, s4) = run(4)
      // the max normalizers are plan-folded broadcast crossJoins, so
      // the only driver-blocking action per round is the lineage cut
      assert(j4 - j1 == 3, s"driver jobs per round: j1=$j1 j4=$j4 (want 1/round)")
      // ~22 stages/round flat (the broadcast subjobs re-run their tiny
      // child DAGs); an un-persisted edge list re-executes distinct()
      // in each of the round's 4 edge/node consumers: +≥8 stages/round
      val perRound = (s4 - s1) / 3.0
      assert(perRound <= 26.0,
        s"stages per round: s1=$s1 s4=$s4 perRound=$perRound — edge list recomputed?")
    }
  }

  test("reliable checkpointer: identical ranks, survives with a durable checkpoint dir") {
    val dir = tempDir("graft-ckpt").toFile
    try {
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      val base = Graph.pagerankQuantized(edges, "src", "dst", 3)
        .orderBy("node").collect().toSeq
      val reliable = Graph.pagerankQuantized(edges, "src", "dst", 3,
          checkpointer = graft.operators.Checkpoint.reliable)
        .orderBy("node").collect().toSeq
      assert(reliable == base)
      // the durable path actually wrote checkpoint data
      val wrote = java.nio.file.Files.walk(dir.toPath)
        .filter(p => p.toFile.isFile).count()
      assert(wrote > 0, "reliable checkpointer wrote nothing durable")
      // label propagation takes the same strategy
      val lpBase = lpRun(lpEdges(4L, 6L), iters = 2)
      val lpReliable = Graph.labelPropagationQuantized(
        lpEdges(4L, 6L), "src", "dst", "w", lpSeeds, "node", "label", 2,
        checkpointer = graft.operators.Checkpoint.reliable)
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(lpReliable == lpBase)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }

  test("triangleStats: K4 + pendant, direction/duplicate/self-loop cleanup, repartition-stable") {
    // K4 on 1..4 (4 triangles, every node in 3) + pendant 5-1; edges
    // arrive messy: both directions, duplicates, one self-loop
    val messy = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 2L),
      (2L, 4L), (3L, 4L), (4L, 3L), (1L, 5L), (5L, 1L), (2L, 2L)
    ).toDF("src", "dst")
    val got = Graph.triangleStats(messy, "src", "dst")
      .collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("triangles"),
          r.getAs[Double]("lcc"))).toMap
    assert(got(1L) == (4L, 3L, 0.5)) // deg 4: 3 triangles of C(4,2)=6 wedges
    assert(got(2L) == (3L, 3L, 1.0))
    assert(got(3L) == (3L, 3L, 1.0))
    assert(got(4L) == (3L, 3L, 1.0))
    assert(got(5L) == (1L, 0L, 0.0))
    // global count: sum of per-node tallies = 3 * triangles
    assert(got.values.map(_._2).sum == 12L)
    // pure function of the undirected graph — partitioning-invariant
    val got2 = Graph.triangleStats(messy.repartition(7), "src", "dst")
      .collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("triangles"),
          r.getAs[Double]("lcc"))).toMap
    assert(got2 == got)
    graft.plans.PlanAudit.assertScalable(
      Graph.triangleStats(messy, "src", "dst"))
  }

  test("kCore: K5 core survives, tail peels, cascade empties a path; convergence flag") {
    // K5 on 1..5 + tail 5-6-7: the 3-core is exactly the K5
    val k5 = (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)) ++
      Seq((5L, 6L), (6L, 7L))
    val out = Graph.kCore(k5.toDF("src", "dst"), "src", "dst", k = 3, iters = 3)
      .collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("degree"), r.getAs[Boolean]("in_core"),
          r.getAs[Long]("core_degree"), r.getAs[Boolean]("converged"))).toMap
    assert((1L to 4L).forall(n => out(n) == (4L, true, 4L, true)))
    assert(out(5L) == (5L, true, 4L, true)) // loses the tail edge only
    assert(out(6L) == (2L, false, 0L, true) && out(7L) == (1L, false, 0L, true))
    // cascade: a path has NO 2-core, but it takes rounds to see it
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val peeled = Graph.kCore(path, "src", "dst", k = 2, iters = 3).collect()
    assert(peeled.forall(!_.getAs[Boolean]("in_core")))
    assert(peeled.forall(_.getAs[Boolean]("converged")))
    // an insufficient round budget reports non-convergence instead of
    // silently presenting the superset as the core
    val early = Graph.kCore(path, "src", "dst", k = 2, iters = 1).collect()
    assert(early.forall(!_.getAs[Boolean]("converged")))
    assert(early.exists(_.getAs[Boolean]("in_core"))) // superset, flagged
  }

  test("linkPrediction: hand-computed AA/CN/Jaccard; existing edges excluded; deterministic") {
    // path 1-2-3 (1,3 share neighbor 2) + square 4-5-6-7-4 (diagonals
    // share TWO degree-2 neighbors); 1-3 then added as a real edge in
    // a second run to check the anti-join
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 4L))
      .toDF("src", "dst")
    val got = Graph.linkPrediction(edges, "src", "dst", k = 5)
      .collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("cand_id")) ->
        (r.getAs[Long]("cn"), r.getAs[Double]("aa"), r.getAs[Double]("jaccard")))
      .toMap
    val aa1 = Math.round(1.0e9 / math.log(2.0)) / 1.0e9 // one deg-2 neighbor
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((1L, 3L)) == (1L, r6(aa1), 1.0))
    assert(got((4L, 6L)) == (2L, r6(Math.round(1.0e9 / math.log(2.0)) * 2L / 1.0e9), 1.0))
    assert(got((5L, 7L)) == got((4L, 6L)))
    assert(got.size == 3, s"unexpected candidates: ${got.keySet}")
    // close the 1-3 edge: the pair must vanish from the predictions
    val closed = Graph.linkPrediction(
      edges.unionByName(Seq((3L, 1L)).toDF("src", "dst")), "src", "dst", k = 5)
      .collect().map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("cand_id"))).toSet
    assert(!closed.contains((1L, 3L)))
    // partitioning-invariant
    val got2 = Graph.linkPrediction(edges.repartition(7), "src", "dst", k = 5)
      .collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("cand_id")) ->
        (r.getAs[Long]("cn"), r.getAs[Double]("aa"), r.getAs[Double]("jaccard")))
      .toMap
    assert(got2 == got)
  }

  test("neighborhoodProfile: path vs clique expansion, hand-checked reach") {
    import spark.implicits._
    // path 1-2-3-4-5 plus clique {10,11,12,13}
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)) ++
      Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L),
        (12L, 13L))).toDF("s", "d")
    val got = Graph.neighborhoodProfile(edges, "s", "d")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("degree"), r.getAs[Long]("reach2"),
          r.getAs[Double]("expansion"))).toMap
    // path ends see 2 nodes within distance 2; the middle sees all 4
    assert(got(1L) == (1L, 2L, 2.0))
    assert(got(2L) == (2L, 3L, 1.5))
    assert(got(3L) == (2L, 4L, 2.0))
    // clique: neighbors' neighbors are the same nodes — expansion 1.0,
    // the link-farm signature
    Seq(10L, 11L, 12L, 13L).foreach(n => assert(got(n) == (3L, 3L, 1.0)))
    // partitioning-invariant (and duplicate/reversed edges collapse)
    val noisy = edges.unionByName(edges.select(col("d").as("s"), col("s").as("d")))
    val again = Graph.neighborhoodProfile(noisy.repartition(5), "s", "d")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("degree"), r.getAs[Long]("reach2"),
          r.getAs[Double]("expansion"))).toMap
    assert(again == got)
  }

  test("anfProfile: sketch propagation equals sketching the exact ball; monotone; repartition-stable") {
    import spark.implicits._
    import graft.functions.expressions.HllDistinct
    // path 1-2-3-4-5 plus clique {10,11,12,13}: known balls at every radius
    val edgeSeq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)) ++
      Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L))
    val edges = edgeSeq.toDF("s", "d")
    val adj = (edgeSeq ++ edgeSeq.map(_.swap))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val nodes = adj.keySet
    def ball(u: Long, r: Int): Set[Long] =
      (0 until r).foldLeft(Set(u))((b, _) => b ++ b.flatMap(adj))
    val radius = 3
    val got = Graph.anfProfile(edges, "s", "d", radius)
      .collect()
      .map(row => (row.getLong(0), row.getAs[Int]("r")) ->
        (row.getAs[Long]("degree"), row.getAs[Double]("anf"))).toMap
    assert(got.keySet ==
      (for (n <- nodes; r <- 1 to radius) yield (n, r)).toSet)
    // THE pin: union-propagated registers are a pure function of the
    // exact ball set, so the estimate must EQUAL hll_distinct over the
    // enumerated members — bit-for-bit, not approximately
    val members = (for {
      n <- nodes.toSeq; r <- 1 to radius; m <- ball(n, r)
    } yield (n, r, m)).toDF("node", "r", "m")
    val expect = members.groupBy($"node", $"r")
      .agg(HllDistinct($"m").as("e"))
      .collect()
      .map(row => (row.getLong(0), row.getInt(1)) -> row.getAs[Double]("e"))
      .toMap
    expect.foreach { case (k, e) =>
      assert(got(k)._2 == e, s"estimate mismatch at $k") }
    // degree column, monotonicity in r, and the tiny-ball regime staying
    // within rounding distance of the exact count
    nodes.foreach { n =>
      assert(got((n, 1))._1 == adj(n).size.toLong)
      assert(got((n, 1))._2 <= got((n, 2))._2 && got((n, 2))._2 <= got((n, 3))._2)
      // the estimate is APPROXIMATE — a register collision among 4
      // members legitimately reads 3 — so band, don't pin, accuracy
      (1 to radius).foreach { r =>
        val e = ball(n, r).size.toDouble
        assert(math.abs(got((n, r))._2 - e) <= math.max(1.5, 0.15 * e), s"($n,$r)")
      }
    }
    // partitioning-invariant; duplicate/reversed edges collapse
    val noisy = edges.unionByName(edges.select($"d".as("s"), $"s".as("d")))
    val again = Graph.anfProfile(noisy.repartition(5), "s", "d", radius)
      .collect()
      .map(row => (row.getLong(0), row.getAs[Int]("r")) ->
        (row.getAs[Long]("degree"), row.getAs[Double]("anf"))).toMap
    assert(again == got)
  }

  test("harmonicCentrality: telescoping sum over anfProfile's balls; centrality ordering") {
    import spark.implicits._
    val edgeSeq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)) ++
      Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L))
    val edges = edgeSeq.toDF("s", "d")
    val radius = 3
    val prof = Graph.anfProfile(edges, "s", "d", radius)
      .collect()
      .map(row => (row.getLong(0), row.getAs[Int]("r")) -> row.getAs[Double]("anf"))
      .toMap
    val got = Graph.harmonicCentrality(edges, "s", "d", radius)
      .collect()
      .map(row => row.getLong(0) ->
        (row.getAs[Long]("degree"), row.getAs[Double]("reach"), row.getAs[Double]("hc")))
      .toMap
    // hc IS the fixed-shape telescoping sum over the ball estimates —
    // bit-for-bit, same association order as the operator
    got.foreach { case (n, (_, reach, hc)) =>
      assert(reach == prof((n, radius)))
      val expect = (2 to radius).foldLeft(prof((n, 1)) - 1.0) { (acc, r) =>
        acc + (prof((n, r)) - prof((n, r - 1))) / r.toDouble
      }
      assert(hc == expect, s"node $n")
    }
    // distance-based ordering: the path CENTER (3) reaches everything
    // within 2 hops and must outrank the path END (1), whose 3-ball is
    // still growing; clique members outrank every path node
    assert(got(3L)._3 > got(1L)._3)
    assert(got(10L)._3 > got(1L)._3)
    // exact-count band (tiny balls: estimates within rounding distance)
    assert(math.abs(got(3L)._3 - 3.0) < 0.5)
    assert(math.abs(got(1L)._3 - (1.0 + 0.5 + 1.0 / 3.0)) < 0.5)
  }

  test("cooccurrenceEdges: distinct-user weights, degree cap, min-support") {
    import spark.implicits._
    // u1: items 1,2,3; u2: items 1,2 (twice — distinct collapses);
    // u3: items 2,3; u4: item 1 only (no wedge)
    val log = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 2L), (2L, 1L),
      (3L, 2L), (3L, 3L),
      (4L, 1L)
    ).toDF("user", "item")
    val got = Graph.cooccurrenceEdges(log, "user", "item")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("weight")).toMap
    assert(got == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 2L))
    // min-support prunes the weight-1 pair
    val pruned = Graph.cooccurrenceEdges(log, "user", "item", minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == Set((1L, 2L), (2L, 3L)))
    // cap=2 keeps each user's LOWEST item ids: u1 -> {1,2}, so (1,3)/(2,3)
    // lose u1's contribution and (2,3) keeps u3's
    val capped = Graph.cooccurrenceEdges(log, "user", "item", maxPerUser = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("weight")).toMap
    assert(capped == Map((1L, 2L) -> 2L, (2L, 3L) -> 1L))
    // partitioning-invariant
    val again = Graph.cooccurrenceEdges(log.repartition(5), "user", "item")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("weight")).toMap
    assert(again == got)
    intercept[IllegalArgumentException](
      Graph.cooccurrenceEdges(log, "user", "item", maxPerUser = 1))
    intercept[IllegalArgumentException](
      Graph.cooccurrenceEdges(log, "user", "item", minSupport = 0L))
  }

  test("effectiveDiameter: path graph covers at the expected hop count; clique at 1; empty graph nulls") {
    def run(es: Seq[(Long, Long)], radius: Int) = {
      val r = Graph.effectiveDiameter(
        es.toDF("src", "dst"), "src", "dst", radius).collect()(0)
      (if (r.isNullAt(0)) None else Some(r.getInt(0)),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    }
    // clique K4: every ball is complete at radius 1 -> eff radius 1,
    // fraction exactly 1 (identical sketch totals at every radius)
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val (cr, cf) = run(k4, 3)
    assert(cr == Some(1) && cf == Some(1.0))
    // path of 9 nodes: ball mass keeps growing through radius 4 —
    // 90% of the radius-4 mass needs more than one hop
    val path = (0L until 8L).map(i => (i, i + 1))
    val (pr, pf) = run(path, 4)
    assert(pr.exists(_ > 1) && pf.exists(f => f >= 0.9 && f <= 1.0))
    assert(run(Seq.empty, 3) == ((None, None)))
  }

  test("pagerankWeightedQuantized: w=1 equals the unweighted operator; parallel edges sum; weight proportionality") {
    // uniform weights on the g01 fixture (which includes a dangling
    // node) must reproduce the unweighted operator bit-for-bit
    val w1 = edges.withColumn("w", lit(1L))
    val weighted = Graph
      .pagerankWeightedQuantized(w1, "src", "dst", "w", iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val plain = Graph.pagerankQuantized(edges, "src", "dst", iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(weighted == plain)
    // parallel edges collapse by SUMMING weight
    val dup = Seq((1L, 2L, 3L), (1L, 2L, 1L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val merged = Seq((1L, 2L, 4L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    def run(df: org.apache.spark.sql.DataFrame) = Graph
      .pagerankWeightedQuantized(df, "src", "dst", "w", iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(run(dup) == run(merged))
    // the heavier edge's target outranks the lighter's, strictly
    val got = run(merged)
    assert(got(2L) > got(3L))
    // non-positive weights drop (a zero-weight edge is no edge)
    assert(run(merged.union(Seq((1L, 9L, 0L)).toDF("src", "dst", "w")))
      == got)
    assert(run(merged.repartition(5)) == got)
  }

  test("sessionCooccurrenceEdges: gap cuts sessions, cap keeps lowest ids, support prunes; repartition-stable") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val log = Seq(
      // user 1, session A (items 1,2), then a >6h silence, session B (2,3)
      (1L, 1L, ts("2024-01-01 00:00:00")),
      (1L, 2L, ts("2024-01-01 00:30:00")),
      (1L, 2L, ts("2024-01-01 12:00:00")),
      (1L, 3L, ts("2024-01-01 12:10:00")),
      // user 2, one session with items 1,2 — and a triple for the cap test
      (2L, 2L, ts("2024-01-02 05:00:00")),
      (2L, 1L, ts("2024-01-02 05:05:00")),
      (2L, 9L, ts("2024-01-02 05:06:00")))
      .toDF("user", "item", "ts")
    def run(df: org.apache.spark.sql.DataFrame, cap: Int, sup: Long) =
      Graph.sessionCooccurrenceEdges(df, "user", "item", "ts",
        gapMinutes = 360L, maxPerSession = cap, minSupport = sup)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // sessions: u1A={1,2}, u1B={2,3}, u2={1,2,9}
    assert(run(log, 64, 1L) == Map(
      (1L, 2L) -> 2L, (2L, 3L) -> 1L, (1L, 9L) -> 1L, (2L, 9L) -> 1L))
    assert(run(log, 64, 2L) == Map((1L, 2L) -> 2L))
    // cap 2 keeps u2's LOWEST ids {1,2}: the 9-pairs disappear
    assert(run(log, 2, 1L) == Map((1L, 2L) -> 2L, (2L, 3L) -> 1L))
    assert(run(log.repartition(5), 64, 1L) == run(log, 64, 1L))
    // without the silence cut, u1's 1 and 3 would co-occur: they don't
    assert(!run(log, 64, 1L).contains((1L, 3L)))
    intercept[IllegalArgumentException](
      Graph.sessionCooccurrenceEdges(log, "user", "item", "ts", 0L))
  }

  test("degreeAssortativity: star = -1, regular graph = null, barbell hand value; cleanup + repartition-stable") {
    def run(df: org.apache.spark.sql.DataFrame) = {
      val r = Graph.degreeAssortativity(df, "src", "dst").collect()(0)
      (r.getAs[Long]("nodes"), r.getAs[Long]("edges"),
        r.getAs[Double]("avg_degree"),
        if (r.isNullAt(3)) None else Some(r.getAs[Double]("assortativity")))
    }
    // star K1,3: every edge joins deg 3 to deg 1 -> perfectly disassortative
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    assert(run(star) == ((4L, 3L, 1.5, Some(-1.0))))
    // 4-cycle: degree-regular, zero variance -> null
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(run(cycle) == ((4L, 4L, 2.0, None)))
    // barbell (two triangles + a bridge): degrees {2,2,3,3,2,2}, 7 edges;
    // expectation replayed from Newman's formula on the hand degree map
    val barbell = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("src", "dst")
    val deg = Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 3L, 5L -> 2L, 6L -> 2L)
    val undirected = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
    val s1 = 2L * undirected.map { case (a, b) => deg(a) * deg(b) }.sum
    val s2 = undirected.map { case (a, b) => deg(a) + deg(b) }.sum
    val s3 = undirected.map { case (a, b) => deg(a) * deg(a) + deg(b) * deg(b) }.sum
    val m2 = 2L * undirected.size
    val expect = BigDecimal(
      (m2 * s1 - s2 * s2).toDouble / (m2 * s3 - s2 * s2).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(run(barbell) == ((6L, 7L, BigDecimal(14.0 / 6.0).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, Some(expect))))
    // self-loops, duplicates, and reversed duplicates are cleaned up
    val messy = star.union(Seq((1L, 0L), (0L, 1L), (2L, 2L)).toDF("src", "dst"))
    assert(run(messy) == run(star))
    assert(run(barbell.repartition(7)) == run(barbell))
    // empty graph: one row, nulls where undefined
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val er = Graph.degreeAssortativity(empty, "src", "dst").collect()(0)
    assert(er.getAs[Long]("nodes") == 0L && er.getAs[Long]("edges") == 0L)
  }
}
