package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dsir, Sampling}

/** Deterministic sampling surface: the epoch shuffle (shuffleShards) and
  * DSIR importance resampling. Value-level verification is the driver's
  * DuckDB gate (p13/p14); here we pin the algebraic invariants. */
class SamplingSpec extends SparkSpec {

  import spark.implicits._

  // ---------------- shuffleShards ----------------

  private def ids = (0L until 100L).toDF("id")

  test("shuffleShards: a permutation — every id once, pos dense per shard") {
    val out = Sampling.shuffleShards(ids, "id", nShards = 8).collect()
    assert(out.map(_.getAs[Long]("id")).sorted.toSeq == (0L until 100L))
    out.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq ==
        (1L to rows.length))
    }
  }

  test("shuffleShards: pure function of (id, seed) — repartition-stable") {
    def key(df: org.apache.spark.sql.DataFrame) =
      Sampling.shuffleShards(df, "id", nShards = 8).collect()
        .map(r => (r.getAs[Long]("id"),
          (r.getAs[Long]("shard"), r.getAs[Long]("pos")))).toMap
    assert(key(ids) == key(ids.repartition(7)))
  }

  test("shuffleShards: pos is the (hash, id) rank within the shard") {
    val expected = ids
      .select(col("id"), xxhash64(col("id"), lit(42L)).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy { case (id, h) => Math.floorMod(h, 8L) }
      .view.mapValues(_.sortBy { case (id, h) => (h, id) }
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) })
      .toMap
    val got = Sampling.shuffleShards(ids, "id", nShards = 8).collect()
    got.foreach { r =>
      val (id, shard, pos) = (r.getAs[Long]("id"),
        r.getAs[Long]("shard"), r.getAs[Long]("pos"))
      assert(expected(shard).toMap.apply(id) == pos, s"id $id")
    }
  }

  test("shuffleShards: a different seed is a different permutation") {
    def perm(seed: Long) =
      Sampling.shuffleShards(ids, "id", nShards = 8, seed = seed).collect()
        .map(r => (r.getAs[Long]("id"),
          (r.getAs[Long]("shard"), r.getAs[Long]("pos")))).toMap
    assert(perm(42L) != perm(43L))
  }

  test("shuffleShards: rejects nShards = 0") {
    intercept[IllegalArgumentException](
      Sampling.shuffleShards(ids, "id", nShards = 0))
  }

  // ---------------- DSIR ----------------

  private def corpus = Seq(
    (1L, "alpha beta alpha beta alpha"),
    (2L, "alpha beta gamma delta"),
    (3L, "gamma delta gamma delta gamma"),
    (4L, "one"), // single token: zero bigrams
    (5L, "")
  ).toDF("doc_id", "text")

  test("dsir: target == raw makes every log-ratio, hence weight, zero") {
    val out = Dsir.importanceWeights(corpus, corpus, "doc_id", "text")
      .collect()
    assert(out.forall(_.getAs[Double]("weight") == 0.0))
  }

  test("dsir: zero-bigram documents get weight 0 and n_bigrams 0") {
    val target = corpus.filter(col("doc_id") === 1L)
    val out = Dsir.importanceWeights(corpus, target, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("weight"))).toMap
    assert(out(4L) == (0L, 0.0) && out(5L) == (0L, 0.0))
  }

  test("dsir: weights rank target-like documents above disjoint ones") {
    val target = corpus.filter(col("doc_id") === 1L) // alpha/beta world
    val out = Dsir.importanceWeights(corpus, target, "doc_id", "text")
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Double]("weight")).toMap
    assert(out(1L) > out(2L) && out(2L) > out(3L),
      s"expected alpha-heavy > mixed > gamma-heavy, got $out")
    assert(out(3L) < 0, "disjoint doc should score negative")
  }

  test("dsir: repartition-stable and model-reuse equal to fresh learn") {
    val target = corpus.filter(col("doc_id") <= 2L)
    val fresh = Dsir.importanceWeights(corpus, target, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val model = Dsir.learnLogRatios(corpus, target, "text")
    val reused = Dsir.importanceWeights(
      corpus.repartition(5), target, "doc_id", "text",
      model = Some(model)).orderBy("doc_id").collect().toSeq
    assert(fresh == reused)
  }

  test("dsir: model length must match buckets") {
    intercept[IllegalArgumentException](
      Dsir.importanceWeights(corpus, corpus, "doc_id", "text",
        buckets = 128, model = Some(Array(1L))))
  }

  // ---------------- clusterAwareSplit ----------------

  private val splitBounds = Seq(("train", 80), ("val", 90), ("test", 100))

  test("clusterAwareSplit: no cluster straddles a split; naive hashing would leak") {
    // synthetic clusters (i, i + 500): with 500 clusters and an 80/10/10
    // cut, SOME pair lands on different sides under the p03-style
    // own-id hash — the leakage this operator exists to prevent
    val docs = (0L until 1000L).toDF("doc_id")
    val comps = (0L until 500L)
      .flatMap(i => Seq((i, i), (i + 500L, i)))
      .toDF("id", "comp")
    val out = Sampling
      .clusterAwareSplit(docs, comps, "doc_id", splitBounds)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("split_key"), r.getAs[String]("split"))).toMap
    assert(out.size == 1000)
    val naive = docs
      .select(col("doc_id"),
        pmod(xxhash64(col("doc_id")), lit(100L)).as("b"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.getLong(1) < 80) "train"
         else if (r.getLong(1) < 90) "val" else "test")).toMap
    val leakyUnderNaive = (0L until 500L).count(i => naive(i) != naive(i + 500L))
    assert(leakyUnderNaive > 0, "fixture must exhibit naive-split leakage")
    (0L until 500L).foreach { i =>
      assert(out(i) == out(i + 500L), s"cluster $i straddles splits: $out")
      assert(out(i)._1 == i, s"cluster $i must hash its representative")
      // the cluster takes the REPRESENTATIVE's naive draw
      assert(out(i)._2 == naive(i))
    }
  }

  test("clusterAwareSplit: verified near-dup pairs agree on real corpus; unclustered = p03") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val pairs = graft.operators.Dedup
      .minhashPairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16)
      .filter(col("jaccard") >= 0.4)
    val comps = graft.operators.Dedup
      .connectedComponents(pairs, "id_a", "id_b")
    assert(comps.count() > 0, "fixture corpus must contain near-dup clusters")
    val split = Sampling
      .clusterAwareSplit(docs, comps, "doc_id", splitBounds)
      .select(col("doc_id"), col("split_key"), col("split"))
    val byId = split.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("split_key"), r.getAs[String]("split"))).toMap
    pairs.select("id_a", "id_b").collect().foreach { r =>
      assert(byId(r.getLong(0))._2 == byId(r.getLong(1))._2,
        s"near-dup pair (${r.getLong(0)}, ${r.getLong(1)}) straddles splits")
    }
    // unclustered documents keep the plain p03 decision (corpus growth
    // compatibility: adding cluster structure never moves loners)
    val clustered = comps.select("id").collect().map(_.getLong(0)).toSet
    val naive = docs
      .select(col("doc_id"),
        pmod(xxhash64(col("doc_id")), lit(100L)).as("b"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.getLong(1) < 80) "train"
         else if (r.getLong(1) < 90) "val" else "test")).toMap
    byId.foreach { case (id, (key, s)) =>
      if (!clustered.contains(id)) {
        assert(key == id && s == naive(id), s"loner $id must split by own id")
      }
    }
  }

  test("writeTrainingShards: on-disk order IS the permutation; manifest consistent") {
    val dir = tempDir("graft-shards").toString
    val df = (0L until 200L).toDF("id")
    val manifest = Sampling.writeTrainingShards(df, "id", dir, nShards = 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(manifest.keySet == Set(0L, 1L, 2L, 3L))
    manifest.foreach { case (s, (n, lo, hi)) =>
      assert(lo == 1L && hi == n, s"shard $s manifest broken: n=$n lo=$lo hi=$hi")
    }
    assert(manifest.values.map(_._1).sum == 200L)
    val expected = Sampling.shuffleShards(df, "id", 4).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pos")) -> r.getAs[Long]("id"))
      .toMap
    (0L until 4L).foreach { s =>
      // one small file per shard -> collect() preserves the physical
      // row order a non-Spark reader would stream
      val rows = spark.read.parquet(s"$dir/shard=$s").collect()
      val poss = rows.map(_.getAs[Long]("pos")).toSeq
      assert(poss == poss.sorted, s"shard $s not stored in pos order")
      rows.foreach { r =>
        assert(expected((s, r.getAs[Long]("pos"))) == r.getAs[Long]("id"),
          s"shard $s pos ${r.getAs[Long]("pos")}: wrong row")
      }
    }
  }

  test("clusterAwareSplit: rejects malformed bounds") {
    val docs = (0L until 10L).toDF("doc_id")
    val comps = Seq.empty[(Long, Long)].toDF("id", "comp")
    intercept[IllegalArgumentException](Sampling.clusterAwareSplit(
      docs, comps, "doc_id", Seq(("train", 80), ("val", 90)))) // != buckets
    intercept[IllegalArgumentException](Sampling.clusterAwareSplit(
      docs, comps, "doc_id", Seq(("train", 90), ("val", 80), ("test", 100))))
  }

  test("interleaveSchedule: source rates follow sqrt weights; ranks dense; deterministic") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // heavy source has 100x the mass -> sqrt weighting gives it 10x the
    // rate (1/10th the stride): a long schedule prefix must contain
    // roughly 10 heavy docs per light doc
    val docs = ((1L to 400L).map(i => (i, "heavy", 100L)) ++
      (1001L to 1040L).map(i => (i, "light", 100L))).toDF("id", "src", "w")
    val heavyMass = 400L * 100L // vs light 40*100: mass ratio 100 after...
    assert(heavyMass == 40000L)
    val sched = Sampling
      .interleaveSchedule(docs, "id", "src", massExpr = col("w") * when(col("src") === "heavy", 100L).otherwise(1L))
      .orderBy(col("sched_key"), col("src"), col("id"))
    val head = sched.limit(110).collect().map(_.getAs[String]("src"))
    val nHeavy = head.count(_ == "heavy")
    val nLight = head.count(_ == "light")
    assert(nHeavy >= 8 * nLight && nLight >= 1,
      s"rate off: $nHeavy heavy vs $nLight light in the head")
    // ranks are dense 1..n per source
    val ranks = sched.collect()
      .groupBy(_.getAs[String]("src"))
      .map { case (s, rs) => s -> rs.map(_.getAs[Long]("src_rank")).sorted.toSeq }
    assert(ranks("heavy") == (1L to 400L) && ranks("light") == (1L to 40L))
    // bit-identical under repartitioning
    val a = sched.collect().map(_.toSeq).toSeq
    val b = Sampling
      .interleaveSchedule(docs.repartition(7), "id", "src",
        massExpr = col("w") * when(col("src") === "heavy", 100L).otherwise(1L))
      .orderBy(col("sched_key"), col("src"), col("id"))
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("interleaveSchedule: equal-mass sources get distinct keys via the per-source phase offset") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two sources with IDENTICAL mass share a stride; bare rank*stride
    // keys would tie at EVERY rank — the xxhash64(source) pmod stride
    // phase offset separates them (and stays below the stride, so the
    // per-source rate spacing is preserved)
    val docs = ((1L to 50L).map(i => (i, "alpha")) ++
      (101L to 150L).map(i => (i, "beta"))).toDF("id", "src")
    val sched = Sampling
      .interleaveSchedule(docs, "id", "src", massExpr = lit(1L))
      .collect()
    val bySrc = sched.groupBy(_.getAs[String]("src"))
      .map { case (s, rs) =>
        s -> rs.map(r => (r.getAs[Long]("src_rank"), r.getAs[Long]("sched_key"))).toMap }
    // same stride: key deltas per rank are equal across the sources
    val strideA = bySrc("alpha")(2L) - bySrc("alpha")(1L)
    val strideB = bySrc("beta")(2L) - bySrc("beta")(1L)
    assert(strideA == strideB, s"equal masses must share a stride: $strideA vs $strideB")
    // but the phase offsets differ, so NO key collides at any rank
    val keysA = bySrc("alpha").values.toSet
    val keysB = bySrc("beta").values.toSet
    assert(keysA.intersect(keysB).isEmpty,
      s"equal-stride sources collided: ${keysA.intersect(keysB)}")
    // offsets sit inside [0, stride): rank r of either source still
    // precedes rank r+1 of both
    val offA = bySrc("alpha")(1L) - strideA
    val offB = bySrc("beta")(1L) - strideB
    assert(offA >= 0L && offA < strideA && offB >= 0L && offB < strideB,
      s"offsets out of range: $offA / $offB vs stride $strideA")
  }

  // ---------------- quotaCap ----------------

  test("quotaCap: keeps exactly min(k, |group|) best rows per group, flags the rest") {
    val docs = Seq(
      (1L, "a", 0.9), (2L, "a", 0.8), (3L, "a", 0.7), (4L, "a", 0.6),
      (5L, "b", 0.5), (6L, "b", 0.4),
      (7L, "c", 0.3)).toDF("id", "src", "q")
    val out = Sampling
      .quotaCap(docs, "src", maxPerGroup = 2,
        orderBy = Seq(col("q").desc, col("id").asc))
      .collect()
    val kept = out.filter(_.getAs[Boolean]("kept")).map(_.getAs[Long]("id")).toSet
    assert(kept == Set(1L, 2L, 5L, 6L, 7L))
    // ranks are dense per group and the cut is rank-based
    out.filter(_.getAs[String]("src") == "a").foreach { r =>
      assert(r.getAs[Boolean]("kept") == (r.getAs[Int]("src_rank") <= 2))
    }
  }

  test("quotaCap: tie-break column makes the kept set partitioning-stable") {
    val docs = (1L to 40L).map(i => (i, s"s${i % 3}", 0.5)).toDF("id", "src", "q")
    def keptSet(df: org.apache.spark.sql.DataFrame) =
      Sampling.quotaCap(df, "src", maxPerGroup = 5,
          orderBy = Seq(col("q").desc, col("id").asc))
        .filter(col("kept")).collect().map(_.getAs[Long]("id")).toSet
    assert(keptSet(docs) == keptSet(docs.repartition(13)))
    // all-equal scores: the cap keeps the 5 LOWEST ids per source
    assert(keptSet(docs) ==
      (1L to 40L).groupBy(i => i % 3).values.flatMap(_.sorted.take(5)).toSet)
  }

  test("mixtureResample: binding caps thin, non-binding keep all, absent groups drop") {
    val rows = ((1L to 60L).map(i => (i, "a")) ++
      (61L to 90L).map(i => (i, "b")) ++
      (91L to 100L).map(i => (i, "c")) ++
      (101L to 105L).map(i => (i, "d"))).toDF("id", "grp")
    val out = Sampling.mixtureResample(rows, "id", "grp",
      targets = Seq("a" -> 0.1, "b" -> 0.45, "c" -> 0.45))
      .collect()
    val byGrp = out.groupBy(_.getAs[String]("grp"))
    // N=105: a caps at .1*105/60 = 0.175; b/c exceed 1 -> keep all
    assert(byGrp("a").forall(_.getAs[Double]("accept_prob") == 0.175))
    assert(byGrp("b").forall(r => r.getAs[Double]("accept_prob") == 1.0 &&
      r.getAs[Boolean]("kept")))
    assert(byGrp("c").forall(_.getAs[Boolean]("kept")))
    // d has no target: accept 0, nothing kept
    assert(byGrp("d").forall(r => r.getAs[Double]("accept_prob") == 0.0 &&
      !r.getAs[Boolean]("kept")))
    // a thins: some kept, some dropped, decision = weightedKeep's hash
    val aKept = byGrp("a").count(_.getAs[Boolean]("kept"))
    assert(aKept > 0 && aKept < 60, s"a kept $aKept of 60")
    // pure function: partitioning-invariant
    val again = Sampling.mixtureResample(rows.repartition(11), "id", "grp",
      Seq("a" -> 0.1, "b" -> 0.45, "c" -> 0.45))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
    assert(again == out.map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap)
  }

  test("quotaCap: rejects k = 0 and an empty order") {
    val docs = Seq((1L, "a", 0.9)).toDF("id", "src", "q")
    intercept[IllegalArgumentException](
      Sampling.quotaCap(docs, "src", 0, Seq(col("q").desc)))
    intercept[IllegalArgumentException](
      Sampling.quotaCap(docs, "src", 1, Seq.empty))
  }

  // ---------------- balancedShards ----------------

  test("balancedShards: complete permutation, bounded shard masses, exact offsets") {
    val docs = (1 to 400).map(i => (i.toLong, (i % 90 + 10).toLong)).toDF("id", "w")
    val out = Sampling.balancedShards(docs, "id", "w", targetWeight = 1000L)
      .collect()
    assert(out.map(_.getLong(0)).toSet == (1 to 400).map(_.toLong).toSet)
    // global_offset is the exclusive running weight sum: consecutive rows
    // (by offset) differ by exactly the predecessor's weight
    val byOff = out.sortBy(_.getAs[Long]("global_offset"))
    assert(byOff.head.getAs[Long]("global_offset") == 0L)
    byOff.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("global_offset") ==
        a.getAs[Long]("global_offset") + a.getLong(1))
    }
    // every non-final shard's mass is target ± max doc weight (docs are
    // never split; assignment is by leading offset)
    val masses = out.groupBy(_.getAs[Long]("shard"))
      .view.mapValues(_.map(_.getLong(1)).sum).toMap
    val last = masses.keys.max
    val maxW = 99L
    masses.foreach { case (sh, m) =>
      if (sh != last)
        assert(m > 1000L - maxW && m < 1000L + maxW, s"shard $sh mass $m")
    }
    // pos is dense 1..n within each shard
    out.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq ==
        (1 to rows.size).map(_.toLong))
    }
    // pure function of (ids, weights, seed): repartition-stable
    val again = Sampling
      .balancedShards(docs.repartition(7), "id", "w", 1000L)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(again == out.map(r => r.getLong(0) -> r.toSeq).toMap)
    // a different seed is a different shuffle order
    val other = Sampling.balancedShards(docs, "id", "w", 1000L, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("global_offset")).toMap
    assert(out.exists(r =>
      other(r.getLong(0)) != r.getAs[Long]("global_offset")))
    intercept[IllegalArgumentException](
      Sampling.balancedShards(docs, "id", "w", 0L))
  }

  // ---------------- temperatureResample ----------------

  test("temperatureResample: alpha-scaled rates, smallest group keeps all") {
    // group big: 16 docs, small: 4 docs, tiny: 1 doc
    val docs = ((1 to 16).map(i => (i.toLong, "big")) ++
      (17 to 20).map(i => (i.toLong, "small")) ++ Seq((21L, "tiny")))
      .toDF("id", "g")
    val out = Sampling.temperatureResample(docs, "id", "g", alpha = 0.5)
      .collect().map(r => r.getLong(0) -> r).toMap
    // accept = (n/nmin)^(alpha-1) = (n/1)^-0.5
    assert(out(1L).getAs[Double]("accept_prob") == 0.25)    // 16^-0.5
    assert(out(17L).getAs[Double]("accept_prob") == 0.5)    // 4^-0.5
    assert(out(21L).getAs[Double]("accept_prob") == 1.0 &&
      out(21L).getAs[Boolean]("kept"))
    // alpha = 1: identity mixture, everything kept at rate 1
    val id = Sampling.temperatureResample(docs, "id", "g", alpha = 1.0)
      .collect()
    assert(id.forall(r => r.getAs[Double]("accept_prob") == 1.0 &&
      r.getAs[Boolean]("kept")))
    // deterministic under repartitioning
    val again = Sampling
      .temperatureResample(docs.repartition(7), "id", "g", alpha = 0.5)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(again == out.view.mapValues(_.toSeq).toMap)
    intercept[IllegalArgumentException](
      Sampling.temperatureResample(docs, "id", "g", alpha = 0.0))
    intercept[IllegalArgumentException](
      Sampling.temperatureResample(docs, "id", "g", alpha = 1.5))
  }

  test("temperatureResample: realized masses land near n^alpha shares") {
    val docs = ((1 to 4000).map(i => (i.toLong, "a")) ++
      (4001 to 5000).map(i => (i.toLong, "b")))
      .toDF("id", "g")
    val kept = Sampling.temperatureResample(docs, "id", "g", alpha = 0.5)
      .filter(col("kept")).groupBy("g").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // expected: b keeps ~1000, a keeps ~4000/2 = 2000 -> ratio 2:1 = (4:1)^0.5
    assert(kept("b") == 1000L)
    assert(math.abs(kept("a") - 2000L) < 150, s"got ${kept("a")}")
  }

  test("curriculumShards: monotone stages, balanced cuts, ties share a stage, repartition-stable") {
    import spark.implicits._
    // difficulties 1..100 once each, plus a 50-way tie at difficulty 40
    val rows = (1L to 100L).map(i => (i, i)) ++
      (101L to 150L).map(i => (i, 40L))
    val df = rows.toDF("id", "diff")
    val got = Sampling.curriculumShards(df, "id", "diff", stages = 3, nShards = 4)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.size == 150)
    // stages partition by difficulty VALUE: every stage-0 difficulty
    // strictly below every stage-1 difficulty, etc.
    val byStage = got.values.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byStage.keySet == Set(0, 1, 2))
    assert(byStage(0).max < byStage(1).min)
    assert(byStage(1).max < byStage(2).min)
    // the 50-way tie at 40 lands whole in one stage and pushes that
    // stage past n/3 = 50; later stages stay at ~50
    val tieStage = got(101L)._2
    assert((101L to 150L).forall(got(_)._2 == tieStage))
    assert(byStage(tieStage).size >= 50)
    // shard in range; pos is a 1-based dense permutation per (stage, shard)
    got.values.foreach { case (_, _, shard, _) => assert(shard >= 0 && shard < 4) }
    got.values.groupBy(v => (v._2, v._3)).values.foreach { g =>
      assert(g.map(_._4).toSeq.sorted == (1L to g.size).toSeq)
    }
    // pure function of the data: partitioning must not matter
    val again = Sampling.curriculumShards(
        df.repartition(7), "id", "diff", stages = 3, nShards = 4)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(again == got)
    // stages = 1 degenerates to shuffleShards-with-stage-0
    val one = Sampling.curriculumShards(df, "id", "diff", stages = 1, nShards = 4)
      .collect().map(r => r.getInt(2)).toSet
    assert(one == Set(0))
  }

  test("epochRecipe: integer epochs exact, fractional rate converges, absent group zero, growth-stable") {
    import spark.implicits._
    val rows = (0L until 2000L).map(i =>
      (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("id", "grp")
    val got = Sampling
      .epochRecipe(rows, "id", "grp", Seq("a" -> 2.0, "b" -> 1.5))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    val byG = got.groupBy(_._2)
    // integer epochs: every 'a' doc gets exactly 2 copies
    assert(byG("a").forall(_._4 == 2L))
    // absent group: zero copies, epochs 0.0
    assert(byG("c").forall(t => t._4 == 0L && t._3 == 0.0))
    // fractional: 'b' docs get 1 or 2, and the 2-rate tracks 0.5
    val b = byG("b").map(_._4)
    assert(b.forall(c => c == 1L || c == 2L))
    val rate = b.count(_ == 2L).toDouble / b.size
    assert(rate > 0.4 && rate < 0.6, s"fractional rate off: $rate")
    // growth-stable: adding docs never flips an existing doc's fate
    val grown = Sampling
      .epochRecipe(rows.union(Seq((9999L, "b")).toDF("id", "grp")),
        "id", "grp", Seq("a" -> 2.0, "b" -> 1.5))
      .filter(col("id") < 2000L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(grown.sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
    intercept[IllegalArgumentException](
      Sampling.epochRecipe(rows, "id", "grp", Seq("a" -> -0.1)))
  }

  // ---------------- weightedSampleK ----------------

  test("weightedSampleK: exactly k per group, dense ranks, w<=0 excluded, repartition-stable") {
    val rows = (1L to 400L).map { i =>
      val grp = s"g${i % 4}"
      // group g3 carries some zero/negative weights — never sampled
      val w = if (i % 4 == 3 && i % 3 == 0) -(i % 5) else 1L + i % 7
      (i, grp, w)
    }
    val df = rows.toDF("id", "grp", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.weightedSampleK(d, "id", "grp", "w", k = 10)
        .orderBy(col("grp"), col("es_rank"))
        .collect()
        .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getInt(3)))
        .toSeq
    val got = run(df)
    val byGrp = got.groupBy(_._1)
    assert(byGrp.keySet == Set("g0", "g1", "g2", "g3"))
    byGrp.foreach { case (g, s) =>
      assert(s.size == 10, s"group $g: ${s.size} rows")
      assert(s.map(_._4).sorted == (1 to 10), s"group $g ranks not dense")
      assert(s.forall(_._3 > 0), s"group $g sampled a non-positive weight")
    }
    assert(run(df.repartition(7)) == got)
    intercept[IllegalArgumentException](
      Sampling.weightedSampleK(df, "id", "grp", "w", k = 0))
  }

  test("weightedSampleK: fractional weights raise in-plan; integral doubles rank like longs") {
    val longs = (1L to 40L).map(i => (i, "g", 1L + i % 7))
    // the same weights as doubles must produce the SAME sample (cast is
    // exact for integral values), not a silently different one
    val asLong = Sampling
      .weightedSampleK(longs.toDF("id", "grp", "w"), "id", "grp", "w", k = 5)
      .orderBy(col("es_rank")).collect().map(_.getLong(0)).toSeq
    val asDouble = Sampling
      .weightedSampleK(
        longs.map { case (i, g, w) => (i, g, w.toDouble) }.toDF("id", "grp", "w"),
        "id", "grp", "w", k = 5)
      .orderBy(col("es_rank")).collect().map(_.getLong(0)).toSeq
    assert(asDouble == asLong)
    // a fractional weight is an ERROR, not a silent floor: 0.7 would
    // vanish and 2.7 would sample as 2 — inclusion probabilities changed
    // with no trace (round-11 advice)
    val frac = Seq((1L, "g", 2.7), (2L, "g", 1.0)).toDF("id", "grp", "w")
    val e = intercept[Exception](
      Sampling.weightedSampleK(frac, "id", "grp", "w", k = 1).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("weights must be integral")),
      s"expected the integral-weights error, got: $e")
    // null weights stay excluded, never raise
    val withNull = Seq((1L, "g", java.lang.Double.valueOf(2.0)),
      (2L, "g", null: java.lang.Double)).toDF("id", "grp", "w")
    val kept = Sampling.weightedSampleK(withNull, "id", "grp", "w", k = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L))
  }

  test("weightedSampleK: inclusion probability grows with weight (statistical)") {
    // 200 independent groups, each with one heavy (w=9) and nine light
    // (w=1) candidates; k=1. P(heavy wins) = 9/18 = 1/2 vs 1/18 per
    // light. Over 200 deterministic draws the heavy count concentrates
    // near 100 — far from the ~20 a uniform draw would give.
    val rows = for (g <- 1 to 200; j <- 0 until 10) yield
      (g * 1000L + j, s"grp$g", if (j == 0) 9L else 1L)
    val winners = Sampling
      .weightedSampleK(rows.toDF("id", "grp", "w"), "id", "grp", "w", k = 1)
      .collect()
    val heavyWins = winners.count(_.getLong(2) == 9L)
    assert(winners.length == 200)
    assert(heavyWins > 65 && heavyWins < 135,
      s"heavy-weight inclusion off: $heavyWins/200 (expect ~100, uniform ~20)")
  }
}
