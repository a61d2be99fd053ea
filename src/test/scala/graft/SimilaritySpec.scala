package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Pins for [[Similarity.annRecallCurve]] — the ANN self-evaluation.
  * The value-level gate is the driver's DuckDB hash-compare of
  * s07_ann_recall; here we pin the two properties that make the metric
  * trustworthy at ANY data scale, independent of the oracle:
  * full-budget recall is exactly 1.0 by construction, and recall is
  * monotone in the probe budget. */
class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf0001).embeddings
  private lazy val centroids =
    Similarity.sampleCentroids(emb, "vec_id", "embedding", nCells = 16)

  private lazy val curve = Similarity
    .annRecallCurve(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      idCol = "vec_id", vecCol = "embedding", k = 5,
      centroids = centroids, nProbes = Seq(1, 2, 4, 16))
    .collect()
    .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("n_probe"),
      r.getAs[Long]("hits"), r.getAs[Double]("recall")))

  test("probing every cell recovers brute force exactly (recall 1.0)") {
    val full = curve.filter(_._2 == 16)
    assert(full.length == 10, s"expected 10 full-budget rows, got ${full.length}")
    full.foreach { case (q, _, hits, recall) =>
      assert(hits == 5L && recall == 1.0,
        s"query $q at n_probe=16: hits=$hits recall=$recall (must be exact)")
    }
  }

  test("recall is monotone non-decreasing in the probe budget") {
    curve.groupBy(_._1).foreach { case (q, rows) =>
      val byBudget = rows.sortBy(_._2).map(_._4)
      byBudget.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0) <= w(1),
          s"query $q: recall dropped ${w(0)} -> ${w(1)} as budget grew")
      }
    }
  }

  test("hits never exceed k and recall is hits/k") {
    curve.foreach { case (q, p, hits, recall) =>
      assert(hits >= 0L && hits <= 5L, s"query $q n_probe=$p hits=$hits")
      assert(math.abs(recall - hits / 5.0) < 1e-9,
        s"query $q n_probe=$p recall=$recall != hits/k")
    }
  }

  test("pqKnn: shortlist + exact re-rank recovers high recall, deterministic") {
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      inDims = 64, numSubspaces = 8, numCodes = 256)
    assert(cb.length == 8 && cb.forall(_.length == 256) &&
      cb.forall(_.forall(_.length == 8)))
    val queries = emb.filter(col("vec_id") < 10)
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.pqKnn(c, queries, "vec_id", "embedding", k = 5,
        codebooks = cb, shortlist = 50)
        .orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val got = run(emb)
    assert(got.size == 50, s"got ${got.size} rows")
    got.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._4) == sorted.map(_._4).sorted.reverse,
        "cosine must descend with rank")
    }
    // the embeddings are unit vectors, so exact-cosine top-k IS exact-L2
    // top-k: the ADC shortlist of 50 re-ranked exactly must recover the
    // true top-5 almost everywhere
    val truth = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val hits = got.count(r => truth.contains((r._1, r._3)))
    assert(hits >= 40, s"PQ cascade recall too low: $hits/50")
    assert(got == run(emb.repartition(7)), "must be partition-invariant")
  }

  test("ivfPqKnn: full-probe equals pqKnn exactly; pruned probe keeps useful recall") {
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      inDims = 64, numSubspaces = 8, numCodes = 256)
    val queries = emb.filter(col("vec_id") < 10)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    // probing EVERY cell makes the candidate set the whole corpus, so
    // the cascade must equal plain PQ bit-for-bit
    val full = canon(Similarity.ivfPqKnn(emb, queries, "vec_id", "embedding",
      k = 5, centroids = centroids, codebooks = cb, nProbe = 16, shortlist = 50))
    val pq = canon(Similarity.pqKnn(emb, queries, "vec_id", "embedding",
      k = 5, codebooks = cb, shortlist = 50))
    assert(full == pq, "all-cells IVF-PQ must equal plain PQ")
    // pruned probing: recall degrades gracefully, not catastrophically
    val pruned = canon(Similarity.ivfPqKnn(emb, queries, "vec_id", "embedding",
      k = 5, centroids = centroids, codebooks = cb, nProbe = 6, shortlist = 50))
    val truth = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val hits = pruned.count(r => truth.contains((r._1, r._3)))
    assert(hits >= 25, s"IVF-PQ recall too low: $hits/50")
    // deterministic under repartitioning
    val again = canon(Similarity.ivfPqKnn(emb.repartition(7), queries,
      "vec_id", "embedding", k = 5, centroids = centroids, codebooks = cb,
      nProbe = 6, shortlist = 50))
    assert(again == pruned)
  }

  test("fitPca: recovers the planted dominant direction; orthonormal; variance-ordered") {
    import spark.implicits._
    // planted structure in 8 dims: v1 (scale 10) dominates v2 (scale 3)
    // dominates isotropic noise (scale 0.1)
    val v1 = Array(0.5, 0.5, 0.5, 0.5, 0.0, 0.0, 0.0, 0.0)
    val v2 = Array(0.5, -0.5, 0.5, -0.5, 0.0, 0.0, 0.0, 0.0)
    val rnd = new scala.util.Random(42)
    val rows = Seq.tabulate(300) { i =>
      val a = 10.0 * rnd.nextGaussian(); val b = 3.0 * rnd.nextGaussian()
      val vec = Array.tabulate(8)(d =>
        (a * v1(d) + b * v2(d) + 0.1 * rnd.nextGaussian()).toFloat)
      (i.toLong, vec.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val p = Similarity.fitPca(df, "vec_id", "embedding", inDims = 8, outDims = 3)
    def dot(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (a, b) => a * b }.sum
    // rows are orthonormal
    for (i <- p.indices; j <- p.indices) {
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot(p(i), p(j)) - expect) < 1e-9, s"dot($i,$j)")
    }
    // first PC aligns with the planted dominant direction
    assert(math.abs(dot(p(0), v1)) > 0.99, s"pc0=${p(0).mkString(",")}")
    assert(math.abs(dot(p(1), v2)) > 0.99, s"pc1=${p(1).mkString(",")}")
    // projected variance is non-increasing across components
    val proj = Similarity.pcaProject(df, "vec_id", "embedding", p)
    val vars = proj
      .agg(var_pop(col("p0")).as("v0"), var_pop(col("p1")).as("v1"),
        var_pop(col("p2")).as("v2"))
      .collect()(0)
    assert(vars.getDouble(0) >= vars.getDouble(1) &&
      vars.getDouble(1) >= vars.getDouble(2), vars.toString)
    // the fit is BIT-identical under repartitioning (exact moments +
    // deterministic eigensolve) — the property the s09 oracle leans on
    val p2 = Similarity.fitPca(df.repartition(13), "vec_id", "embedding",
      inDims = 8, outDims = 3)
    assert(p.length == p2.length &&
      p.zip(p2).forall { case (r1, r2) => r1.sameElements(r2) })
    // projection is scan-local and clean
    graft.plans.PlanAudit.assertScalable(proj)
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "projection must not shuffle")
  }

  test("truncatedKnn: full-prefix recovers brute force exactly; 16-dim prefix keeps high recall") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    // prefixDims = all dims and an uncut shortlist: the cascade is a
    // no-op and must equal brute force bit-for-bit (built-in self-check)
    val full = canon(graft.operators.Similarity.truncatedKnn(
      emb, queries, "vec_id", "embedding", k = 5, prefixDims = 64,
      shortlist = 5000))
    assert(full == canon(graft.operators.Similarity.bruteForceKnn(
      emb, queries, "vec_id", "embedding", k = 5)))
    // a 16-dim prefix with shortlist 50: on RANDOM embeddings (no MRL
    // front-loading) the prefix is a noisy but real signal — recall
    // must beat the random-shortlist baseline (~5/50 here) by a wide
    // margin; MRL-trained embeddings are where the prefix approaches 1
    val truncated = canon(graft.operators.Similarity.truncatedKnn(
      emb, queries, "vec_id", "embedding", k = 5, prefixDims = 16,
      shortlist = 50))
    val exactSet = full.map(r => (r(0), r(2))).toSet
    val hit = truncated.count(r => exactSet((r(0), r(2))))
    assert(hit >= 15, s"prefix shortlist no better than random: $hit/50")
    // deterministic under repartitioning
    assert(truncated == canon(graft.operators.Similarity.truncatedKnn(
      emb.repartition(7), queries, "vec_id", "embedding", k = 5,
      prefixDims = 16, shortlist = 50)))
  }

  test("kCenterGreedy: radii non-increasing, corpus covered at the final radius, deterministic") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def run(df: org.apache.spark.sql.DataFrame) = graft.operators.Similarity
      .kCenterGreedy(df, "vec_id", "embedding", k = 12)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val sel = run(emb)
    assert(sel.length == 12 && sel.head._3 == 0L)
    // greedy radii are non-increasing — the coverage certificate
    assert(sel.map(_._3).drop(1).sliding(2).forall(w => w.head >= w.last), sel)
    // every corpus vector lies within the final pick's radius of SOME
    // selected exemplar (min-dist can only shrink as picks accumulate)
    val vecs = emb.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1e6)).toArray).toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val chosen = sel.map(t => vecs(t._2))
    val lastRadius = sel.last._3
    vecs.foreach { case (id, v) =>
      val dmin = chosen.map(c => d2(v, c)).min
      assert(dmin <= lastRadius,
        s"vector $id at $dmin exceeds the final radius $lastRadius")
    }
    assert(run(emb.repartition(7)) == sel)
  }

  test("kCenterGreedy: exact vs driver replica at k=64, plan size flat in k, empty corpus") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // driver-side greedy replica (Spark round() = HALF_UP, also for
    // the negative coordinates — math.round would differ at -x.5)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x =>
        BigDecimal(x.toDouble * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray)
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def replica(k: Int): Seq[(Int, Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer((1, vecs.head._1, 0L))
      val dist = scala.collection.mutable.Map(
        vecs.map { case (id, v) => id -> d2(v, vecs.head._2) }: _*)
      val selIds = scala.collection.mutable.Set(vecs.head._1)
      for (r <- 2 to k) {
        val cand = vecs.filterNot(v => selIds(v._1))
        if (cand.nonEmpty) {
          val (fid, fv) = cand.maxBy { case (id, _) => (dist(id), -id) }
          out += ((r, fid, dist(fid)))
          selIds += fid
          vecs.foreach { case (id, v) =>
            dist(id) = math.min(dist(id), d2(v, fv)) }
        }
      }
      out.toSeq
    }
    // run while recording the LARGEST executed-plan string any driver
    // action produces (the s10 methodology): the incremental
    // min-distance form carries ONE d-dim center literal per round, so
    // plan size must NOT grow with k — the unrolled selected-set
    // literal form grows O(k·d) and fails this
    def runMeasured(k: Int): (Seq[(Int, Long, Long)], Int) = {
      var got = Seq.empty[(Int, Long, Long)]
      val plans = capturePlans {
        got = graft.operators.Similarity
          .kCenterGreedy(emb, "vec_id", "embedding", k = k)
          .orderBy("rank").collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      }
      (got, plans.map(_.executedPlan.toString.length).foldLeft(0)(math.max))
    }
    val (got8, len8) = runMeasured(8)
    val (got64, len64) = runMeasured(64)
    assert(got8 == replica(8))
    assert(got64 == replica(64))
    assert(len64 <= 2 * len8,
      s"plan grew with k: max plan len $len8 at k=8 vs $len64 at k=64")
    // empty corpus: empty frame, same schema, no exception
    val empty = graft.operators.Similarity.kCenterGreedy(
      emb.filter(org.apache.spark.sql.functions.lit(false)),
      "vec_id", "embedding", k = 3)
    assert(empty.columns.toSeq == Seq("rank", "vec_id", "dist_q"))
    assert(empty.count() == 0L)
  }

  test("marginScores: hub demotion by the ratio margin; deterministic; hand-computed") {
    import spark.implicits._
    // tgt 1 is a HUB (cosine 0.9 against everything): raw cosine ranks
    // it first for src 0, but its inflated backward neighborhood
    // inflates its denominator — the margin promotes tgt 3 instead,
    // the exact failure mode the ratio margin exists to fix
    val fwd = Seq(
      (0L, 1, 1L, 0.9), (0L, 2, 3L, 0.8),
      (2L, 1, 1L, 0.9), (2L, 2, 3L, 0.2)
    ).toDF("query_id", "rank", "neighbor_id", "cosine")
    val bwd = Seq(
      (1L, 1, 0L, 0.9), (1L, 2, 2L, 0.9),
      (3L, 1, 0L, 0.8), (3L, 2, 2L, 0.2)
    ).toDF("query_id", "rank", "neighbor_id", "cosine")
    def run(f: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      graft.operators.Similarity.marginScores(f, b)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getDouble(3), r.getInt(4))).toMap
    val got = run(fwd, bwd)
    // avgF(0)=0.85 avgF(2)=0.55; avgB(1)=0.9 avgB(3)=0.5
    assert(got((0L, 1L)) == (1.028571, 2), got.toString) // 0.9/0.875 — demoted
    assert(got((0L, 3L)) == (1.185185, 1)) // 0.8/0.675 — mined pair for src 0
    assert(got((2L, 1L)) == (1.241379, 1)) // 0.9/0.725
    assert(got((2L, 3L)) == (0.380952, 2)) // 0.2/0.525
    // bit-identical under repartitioning (decimal neighborhood sums)
    assert(run(fwd.repartition(7), bwd.repartition(5)) == got)
  }

  test("knnClassify: weighted majority, negative-cosine clamp, tie to smaller label, IVF composition") {
    import spark.implicits._
    // hand graph: query 100 has two label-1 neighbors (0.5 + 0.4) vs one
    // label-2 at 0.6 → label 1 wins 900000 to 600000; query 200 ties
    // 3 vs 7 at equal weight → smaller label 3; query 300's only
    // positive-similarity neighbor is label 9 (the -0.9 one clamps to 0)
    val neighbors = Seq(
      (100L, 1L, 0.5), (100L, 2L, 0.4), (100L, 3L, 0.6),
      (200L, 4L, 0.5), (200L, 5L, 0.5),
      (300L, 6L, -0.9), (300L, 7L, 0.1)
    ).toDF("query_id", "neighbor_id", "cosine")
    val labels = Seq(
      (1L, 1), (2L, 1), (3L, 2), (4L, 7), (5L, 3), (6L, 5), (7L, 9)
    ).toDF("vec_id", "label")
    val got = graft.operators.Similarity
      .knnClassify(neighbors, labels, "vec_id", "label")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(100L) == (1L, 900000L, 2L), got.toString)
    assert(got(200L) == (3L, 500000L, 1L))
    assert(got(300L) == (9L, 100000L, 1L))
    // composition: classifying over a FULL-probe persisted IVF index
    // equals classifying over brute force (same candidates, same votes)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val labeled = emb.filter(col("vec_id") % 10 =!= 0)
    val queries = emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 100)
    val centroids = graft.operators.Similarity
      .sampleCentroids(labeled, "vec_id", "embedding", 8)
    graft.operators.Similarity.writeIvfIndex(
      labeled, "vec_id", "embedding", centroids, "ivf_cls_spec", numBuckets = 8)
    try {
      def canon(n: org.apache.spark.sql.DataFrame) =
        graft.operators.Similarity.knnClassify(n, labeled, "vec_id", "label")
          .orderBy("query_id").collect().map(_.toSeq).toSeq
      val viaIvf = canon(graft.operators.Similarity.probeIvfIndex(
        spark, "ivf_cls_spec", queries, "vec_id", "embedding", k = 10,
        centroids = centroids, nProbe = 8))
      val viaBrute = canon(graft.operators.Similarity.bruteForceKnn(
        labeled, queries, "vec_id", "embedding", k = 10))
      assert(viaIvf.nonEmpty && viaIvf == viaBrute)
    } finally spark.sql("DROP TABLE IF EXISTS ivf_cls_spec")
  }

  test("embeddingQualityReport: collapsed cloud scores (0, 0); orthogonal clusters hand values; deterministic sample") {
    import spark.implicits._
    // ids surviving the 400/1000 arithmetic-hash sample: 0,3,4,7,8;
    // the pair thinning keeps exactly (3,7) for uniformity
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)
    def run(vec: Long => Seq[Double], label: Long => Int) =
      Similarity.embeddingQualityReport(
        ids.map(i => (i, vec(i), label(i))).toDF("vec_id", "embedding", "label"),
        "vec_id", "embedding", "label")
        .collect()(0)
    // collapsed embeddings: alignment 0, uniformity ln(exp(0)) = 0 —
    // the degenerate cloud the metric exists to expose
    val collapsed = run(_ => Seq(1.0, 0.0), _ => 0)
    assert(collapsed.getLong(0) == 5L && collapsed.getLong(1) == 10L &&
      collapsed.getLong(2) == 1L &&
      collapsed.getDouble(3) == 0.0 && collapsed.getDouble(4) == 0.0)
    // two orthogonal clusters: within-label distances 0 -> alignment 0;
    // the one sampled uniformity pair (3,7) crosses them: ln(exp(-4))
    val split = run(
      i => if (i <= 4) Seq(1.0, 0.0) else Seq(0.0, 1.0),
      i => if (i <= 4) 0 else 1)
    assert(split.getDouble(3) == 0.0 && split.getDouble(4) == -4.0)
    val again = run(
      i => if (i <= 4) Seq(1.0, 0.0) else Seq(0.0, 1.0),
      i => if (i <= 4) 0 else 1)
    assert(again.toSeq == split.toSeq)
    intercept[IllegalArgumentException](
      Similarity.embeddingQualityReport(
        ids.map(i => (i, Seq(1.0), 0)).toDF("vec_id", "embedding", "label"),
        "vec_id", "embedding", "label", vecKeep = 0L))
  }

  test("mmrRerank: exact vs driver replica; near-duplicate demoted; lambda=1 is pure knn; pool injection; guards") {
    import spark.implicits._
    // query 100 along x; a/b near-duplicates of each other, c diverse
    val vecs = Seq(
      (100L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.05, 0.0)),
      (2L, Seq(1.0, 0.055, 0.0)),
      (3L, Seq(0.6, 0.8, 0.0)),
      (4L, Seq(0.0, 0.0, 1.0)),
      (5L, Seq(-1.0, 0.2, 0.1)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") === 100L)

    // driver replica of the exact quantized pipeline
    def cosine(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      var na = 0.0; i = 0
      while (i < a.length) { na += a(i) * a(i); i += 1 }
      var nb = 0.0; i = 0
      while (i < b.length) { nb += b(i) * b(i); i += 1 }
      val norm = math.sqrt(na) * math.sqrt(nb)
      if (norm == 0.0) 0.0 else d / norm
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def simq(a: Seq[Double], b: Seq[Double]): Long =
      BigDecimal(round6(cosine(a, b)) * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def replica(k: Int, lamNum: Long, lamDen: Long): Seq[(Long, Int, Long, Long)] = {
      val q = vecs.find(_._1 == 100L).get._2
      val cands = vecs.filter(_._1 != 100L)
      var sel = Vector.empty[(Long, Long)] // (cid, score)
      for (_ <- 1 to k) {
        val rem = cands.filterNot(c => sel.exists(_._1 == c._1))
        val scored = rem.map { c =>
          val pen =
            if (sel.isEmpty) 0L
            else sel.map(s => simq(c._2, vecs.find(_._1 == s._1).get._2)).max
          (c._1, lamNum * simq(q, c._2) - (lamDen - lamNum) * pen)
        }
        sel :+= scored.minBy { case (id, sc) => (-sc, id) }
      }
      sel.zipWithIndex.map { case ((id, sc), i) => (100L, i + 1, id, sc) }
    }

    def run(k: Int, lamNum: Long, pool: Option[org.apache.spark.sql.DataFrame] = None) =
      Similarity
        .mmrRerank(df, queries, "vec_id", "embedding",
          k = k, poolSize = 5, lambdaNum = lamNum, pool = pool)
        .orderBy(col("query_id"), col("rank"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSeq

    val got = run(4, 70)
    assert(got == replica(4, 70, 100))
    // at a diversity-heavy λ the near-duplicate (id 2) is demoted OUT
    // of the top-4 entirely: the anti-similar candidate (id 5, negative
    // cosine to the selected set — signed MMR rewards it) takes rank 2,
    // then the orthogonal id 4, then the diverse id 3
    val got30 = run(4, 30)
    assert(got30 == replica(4, 30, 100))
    assert(got30.map(_._3) == Seq(1L, 5L, 4L, 3L))
    // λ = 1: no diversity penalty -> exactly the knn order
    val knn = Similarity
      .bruteForceKnn(df, queries, "vec_id", "embedding", 4)
      .orderBy(col("rank")).collect().map(_.getLong(2)).toSeq
    assert(run(4, 100).map(_._3) == knn)
    // injected pool (the ANN-shortlist path) reproduces the brute pool
    val pool = Similarity.bruteForceKnn(df, queries, "vec_id", "embedding", 5)
    assert(run(4, 70, Some(pool)) == got)
    // repartition-stable
    val re = Similarity
      .mmrRerank(df.repartition(7), queries, "vec_id", "embedding",
        k = 4, poolSize = 5)
      .orderBy(col("query_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(re == got)
    intercept[IllegalArgumentException](
      Similarity.mmrRerank(df, queries, "vec_id", "embedding", k = 9, poolSize = 5))
    intercept[IllegalArgumentException](
      Similarity.mmrRerank(df, queries, "vec_id", "embedding", k = 2,
        poolSize = 5, lambdaNum = 101))
  }

  test("native dot kernel == HOF zip_with/aggregate fold, bit-identical") {
    import spark.implicits._
    // the pre-round-11 HOF composition, verbatim (VectorFunctions.dot
    // history): reference semantics for DotDoubleExpr
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(
        zip_with(a.cast("array<double>"), b.cast("array<double>"),
          (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
    var s = 0x2545f4914f6cdd1dL
    def nextD(): Double = {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      (s % 100000L).toDouble / 1000.0
    }
    val rows = (0 until 50).map { i =>
      val d = 1 + (i % 17)
      (i.toLong, Seq.fill(d)(nextD()), Seq.fill(d)(nextD()))
    }
    val got = rows.toDF("id", "a", "b")
      .select(
        graft.functions.VectorFunctions.dot(col("a"), col("b")).as("native"),
        hofDot(col("a"), col("b")).as("hof"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"native=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
    // null propagation matches the HOF
    val n = Seq((1L, null: Seq[Double], Seq(1.0)))
      .toDF("id", "a", "b")
      .select(graft.functions.VectorFunctions.dot(col("a"), col("b")).as("d"))
      .collect()
    assert(n.head.isNullAt(0))
  }

  test("MIPS: norm augmentation reduces dot-product retrieval to the cosine IVF face") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity
      .bruteForceMips(emb, queries, "vec_id", "embedding", k = 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    // augmented corpus + zero-padded queries through the UNCHANGED
    // cosine machinery; full probe budget = exact, so the id sets must
    // match brute MIPS rank-for-rank (cosine rescales the dot by the
    // per-query constant M*|q| — order-preserving, same tie-break ids)
    val augC = Similarity.mipsAugmentCorpus(emb, "vec_id", "embedding")
    val augQ = Similarity.mipsAugmentQueries(queries, "vec_id", "embedding")
    val cents = Similarity.sampleCentroids(augC, "vec_id", "embedding", nCells = 8)
    val viaCosine = Similarity
      .ivfKnn(augC, augQ, "vec_id", "embedding", k = 5,
        centroids = cents, nProbe = 8)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(brute.nonEmpty && viaCosine.keySet == brute.keySet)
    val disagree = brute.keys.filter(k => brute(k) != viaCosine(k))
    // rounding the rescaled cosine to 1e-6 can swap ids only inside
    // near-ties; demand exact agreement, which the fixture satisfies
    assert(disagree.isEmpty, s"rank disagreements: ${disagree.toSeq.sorted}")
    // augmented corpus vectors all share the max norm (the invariant
    // that makes cosine ranking = dot ranking)
    val norms = augC
      .select(round(graft.functions.VectorFunctions
        .norm2(col("embedding")), 4).as("n"))
      .distinct().collect().map(_.getDouble(0))
    assert(norms.length == 1, s"augmented norms not constant: ${norms.toSeq}")
  }

  test("nearest_cells kernel == the HOF transform/array_sort/slice formulation") {
    import spark.implicits._
    import graft.functions.expressions.{NearestCells, Sketches}
    // the higher-order-function cellsFor the kernel replaced, verbatim:
    // reference semantics for NearestCells
    def hofCellsFor(
        centroids: Seq[(Long, Seq[Double])],
        vec: org.apache.spark.sql.Column,
        n: Int): org.apache.spark.sql.Column = {
      val centroidArr = array(centroids.map { case (cid, v) =>
        struct(lit(cid).as("cid"), array(v.map(lit): _*).as("cv"))
      }: _*)
      val scored = transform(
        centroidArr,
        c => struct(
          round(graft.functions.VectorFunctions.cosine(vec, c("cv")), 9).as("s"),
          c("cid").as("cid")))
      val sorted = array_sort(
        scored,
        (l, r) =>
          when(l("s") > r("s"), -1).when(l("s") < r("s"), 1)
            .when(l("cid") < r("cid"), -1).when(l("cid") > r("cid"), 1)
            .otherwise(0))
      slice(transform(sorted, s => s("cid")), 1, n)
    }
    val rnd = new scala.util.Random(20261019L)
    val dim = 6
    def vec(): Seq[Double] = Seq.fill(dim)(math.rint(rnd.nextGaussian() * 1000) / 1000)
    val base = Seq.fill(9)(vec())
    // ids out of position order; two exact duplicates under other ids
    // (tied scores), one zero centroid (cosine 0 for every vector)
    val centroids: Seq[(Long, Seq[Double])] =
      base.zipWithIndex.map { case (v, i) => ((i * 7L + 3) % 17, v) } ++
        Seq(2L -> base(4), 40L -> base(1), 16L -> Seq.fill(dim)(0.0))
    val k = centroids.size
    val queries: Seq[(Long, Seq[Double])] =
      (0 until 40).map(i => (i.toLong, vec())) ++ Seq(
        100L -> Seq.fill(dim)(0.0),
        101L -> (null: Seq[Double]),
        102L -> (Double.NaN +: vec().tail),
        103L -> (Double.PositiveInfinity +: vec().tail),
        104L -> base(4),
        105L -> base(4).map(-_),
        106L -> vec().take(3))
    // behind an exchange, so the projection runs in a stage (a local
    // relation would be folded on the driver, interpreted)
    val df = queries.toDF("id", "v").repartition(2)
    val ns = Seq(0, 1, 3, k, k + 1)
    def compare(): Unit = {
      val got = df.select(col("id") +: ns.flatMap(n => Seq(
        Sketches.nearestCells(col("v"), centroids, n).as(s"kernel_$n"),
        hofCellsFor(centroids, col("v"), n).as(s"hof_$n"))): _*).collect()
      assert(got.length == queries.size)
      got.foreach { r =>
        ns.foreach { n =>
          val kernel = r.getSeq[Long](r.fieldIndex(s"kernel_$n"))
          val hof = r.getSeq[Long](r.fieldIndex(s"hof_$n"))
          assert(kernel == hof, s"id ${r.getLong(0)} n=$n: kernel $kernel, hof $hof")
          assert(kernel.size == math.min(n, k))
        }
      }
      // a null vector yields the ids in ascending order
      val nullRow = got.find(_.getLong(0) == 101L).get
      assert(nullRow.getSeq[Long](nullRow.fieldIndex(s"kernel_$k")) ==
        centroids.map(_._1).sorted)
    }
    compare() // whole-stage code generation
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(compare()) // interpreted
    // same result type and nullability as the formulation it replaced
    def typeOf(c: org.apache.spark.sql.Column) = {
      val f = df.select(c).schema.head
      (f.dataType, f.nullable)
    }
    assert(typeOf(Sketches.nearestCells(col("v"), centroids, 3)) ==
      typeOf(hofCellsFor(centroids, col("v"), 3)))

    // value equality: equal centroid lists built separately are equal
    // expressions, so canonicalization and exchange reuse still match
    val child = org.apache.spark.sql.catalyst.expressions.Literal.create(null,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    val a = NearestCells(child, centroids.map(_._1), centroids.map(_._2), 3)
    val b = NearestCells(child, centroids.map(_._1).toList,
      centroids.map(_._2.toVector).toVector, 3)
    assert(a == b && a.hashCode == b.hashCode && a.semanticEquals(b))
    assert(a != a.copy(n = 4))
    assert(a.toString == "nearest_cells(null, 12 cells, 3)")
  }

  test("a writeIvfIndex plan prints the cell count, not the centroid coordinates") {
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", nCells = 16)
    val texts =
      try capturePlans {
        Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents,
          "ivf_plan_text_spec", numBuckets = 4)
      }.map(_.toString)
      finally spark.sql("DROP TABLE IF EXISTS ivf_plan_text_spec")
    assert(texts.exists(_.contains("nearest_cells(")), s"no write plan seen:\n${texts.mkString("\n")}")
    val coords = cents.flatMap(_._2).map(_.toString).filter(_.length >= 8).distinct
    assert(coords.nonEmpty)
    for (t <- texts; c <- coords)
      assert(!t.contains(c), s"plan text prints centroid coordinate $c")
  }
}
