package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Semantic clustering over embedding columns: Lloyd's k-means with
  * deterministic initialization, in QUANTIZED integer space.
  *
  * Floating-point k-means is nondeterministic on a cluster (summation
  * order varies per run) and never bit-comparable across engines. This
  * variant quantizes each coordinate once to a fixed grid
  * (`round(x * scale)` as long); from there EVERY step is exact integer
  * arithmetic: distances are integer sums of squared diffs, argmin
  * tie-breaks on the lower cluster id, and the centroid update is the
  * truncating integer mean — so results are bit-identical under any
  * partitioning, any engine, any run. Quantization error (≤ 0.5/scale
  * per coordinate) is orders below embedding noise.
  *
  * Scale shape per iteration (the classic distributed Lloyd's):
  *   - assignment: the k centroids enter the corpus scan as ONE array
  *     literal; distance + argmin are a scan-local `array_min` over
  *     `struct(dist, cluster)` (lexicographic struct ordering IS the
  *     dist-asc-then-cluster-asc tie-break) — no join, no window, no
  *     shuffle of the corpus, ever;
  *   - update: one keyed shuffle of (cluster, dim, value) scalars —
  *     vectors themselves never shuffle; map-side partial sums make the
  *     exchange O(k × dims) per task.
  * The k centroids land on the driver between rounds (k x dims longs,
  * bounded regardless of corpus size). Without that landing the lazy
  * plan would reference the previous round twice and DOUBLE per
  * iteration; with it the lineage stays one-scan-deep per round.
  *
  * Input-magnitude envelope: all integer arithmetic is Long, so a dot
  * product / squared distance sums `dims` terms of up to
  * `(max|x| * scale)^2` each — callers must keep
  * `dims * (max|x| * scale)^2 < 2^63`. Unit-norm embeddings at the
  * default scale=1e6 allow dims up to ~9.2M; |x| <= 100 at 1e6 allows
  * dims <= 922. For larger magnitudes pass a smaller `scale` (the
  * quantization grid coarsens proportionally). A cheap driver-side
  * check on the seed centroids rejects flagrant violations.
  */
object Clustering {

  private def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L),
      (acc, t) => acc + t)

  /** Assignments (idCol, cluster, dist) after `iters` Lloyd iterations
    * from the deterministic seed: initial centroids are the quantized
    * vectors of the `k` smallest ids (cluster id = rank order). `dist`
    * is the final squared distance on the integer grid. */
  def kmeansQuantized(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scale: Double = 1e6): DataFrame =
    kmeansAssignments(vectors, idCol, vecCol, k, iters, scale)
      .select(col(idCol), col("cluster"), col("dist"))

  /** [[kmeansQuantized]] plus the quantized vector (`__q`, array<long>)
    * per row — the internal face for operators that post-process within
    * clusters (e.g. [[semDedup]]) without re-quantizing. */
  private[graft] def kmeansAssignments(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scale: Double = 1e6): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    // Quantize ONCE and persist FOR THE LOOP: every Lloyd round re-reads
    // these vectors, and the quantized array is the smallest full
    // representation of the corpus (8 x dims bytes per row, far below
    // the raw text it derives from). MEMORY_AND_DISK spills gracefully —
    // the standard distributed-Lloyd's input cache. The cache is
    // RELEASED before returning (see the unpersist below): the returned
    // plan is lazy, so holding it past the loop would leak one cached
    // corpus copy per call until ContextCleaner happened to GC it.
    val q = vectors.select(
      col(idCol),
      transform(col(vecCol).cast("array<double>"),
        x => round(x * lit(scale), 0).cast("long")).as("__q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Deterministic seed: the k lowest-id vectors, cluster = rank 0..k-1.
    // orderBy+limit plans as TakeOrderedAndProject (per-partition heaps),
    // and collect() of k rows is bounded driver data.
    var centroids: Seq[(Seq[Long], Int)] =
      q.orderBy(col(idCol).asc).limit(k).collect().toSeq.zipWithIndex.map {
        case (r, rank) => (r.getSeq[Long](1), rank)
      }

    // Cheap overflow guard (driver-side, seed vectors only): the Long
    // dot/sqdist kernels need dims * (max|coord|)^2 < 2^63. The seed is
    // only a sample of the corpus, but it catches flagrant
    // magnitude/scale misconfiguration for free.
    for ((vec, _) <- centroids if vec.nonEmpty) {
      val maxAbs = BigInt(vec.map(v => math.abs(v)).max)
      require(maxAbs.pow(2) * vec.length < (BigInt(1) << 63),
        s"quantized magnitude too large for Long arithmetic: " +
          s"max|coord*scale|=$maxAbs at dims=${vec.length} would overflow " +
          s"dot/sqdist sums; lower `scale` (see Clustering scaladoc)")
    }

    // Assignment is a pure projection: one array<struct<vec,cluster>>
    // literal (a single Literal object — no k-wide codegen), a transform
    // to struct(dist, cluster), and array_min, whose lexicographic
    // struct ordering implements the dist-asc, cluster-asc tie-break.
    def assign: DataFrame = {
      val best = array_min(transform(typedLit(centroids), s =>
        struct(
          sqDist(col("__q"), s.getField("_1")).as("dist"),
          s.getField("_2").as("cluster"))))
      q.withColumn("__best", best)
        .select(col(idCol), col("__best.cluster").as("cluster"),
          col("__best.dist").as("dist"), col("__q"))
    }

    for (_ <- 0 until iters) {
      // Exact integer mean per (cluster, dim): decimal-free, order-free.
      // Truncating division matches DuckDB's trunc(sum/n) bit for bit
      // (both divide exact longs as IEEE doubles, then truncate).
      val updated = assign
        .select(col("cluster"), posexplode(col("__q")).as(Seq("__pos", "__v")))
        .groupBy(col("cluster"), col("__pos"))
        .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
        .withColumn("__m",
          (col("__s").cast("double") / col("__n").cast("double")).cast("long"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("__pos"), col("__m")))).as("__pm"))
        .select(col("cluster"),
          transform(col("__pm"), e => e.getField("__m")).as("__newc"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      // An emptied cluster keeps its previous centroid (never vanishes).
      centroids = centroids.map { case (c, cid) =>
        (updated.getOrElse(cid, c), cid)
      }
    }
    // Deterministic cache release: the loop (the repeated-scan phase) is
    // over, and the returned plan's final action recomputes the
    // scan-local quantization once from source — one projection, as
    // cheap as a cache read and bit-identical (round() is exact). The
    // alternative (returning a still-persisted DF) leaks a corpus-sized
    // cache per call with no release point.
    q.unpersist(blocking = false)
    assign
  }

  /** SemDeDup-style semantic deduplication (cluster-then-prune; see
    * Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): run [[kmeansQuantized]] to bucket
    * the corpus into k semantic clusters, then compare pairs ONLY within
    * a cluster and mark every row that has a lower-id cluster-mate with
    * cosine >= tau as a semantic duplicate (the lowest id of each dup
    * group survives — the deterministic greedy keep rule).
    *
    * Output: (idCol, cluster, dup_of, is_dup) — `dup_of` is the smallest
    * qualifying lower id (null for keepers), one row per input vector.
    *
    * Determinism: cluster assignment is exact integer arithmetic (see
    * [[kmeansQuantized]]); the cosine is computed from exact integer
    * dot products (`dot / sqrt(double(na2) * double(nb2))` — two long
    * sums, one double multiply/sqrt/divide, every step an IEEE-754
    * operation with a fixed operand order), so the >= tau cut is
    * bit-identical across engines, runs, and partitionings.
    *
    * Scale shape: this is the published fix for all-pairs semantic
    * dedup — pairing is confined to clusters, so with k sized to the
    * corpus (k ~ n / targetClusterSize) the candidate count is
    * O(n * targetClusterSize), not O(n^2), and the shuffles are the
    * k-means scalar exchange, the cluster-keyed repartition, and the
    * self-join salted on (cluster, salt). */
  def semDedup(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      tau: Double,
      scale: Double = 1e6): DataFrame = {
    import graft.functions.expressions.Sketches.dotLong
    // The assignment relation is consumed three times (both self-join
    // sides + the final output join). The consumers prune and filter it
    // differently, so ReuseExchange does not share this repartition: the
    // final plan scans and assigns three times. Nor does it satisfy the
    // self-join's distribution: the join is salted (below) and keys on
    // (cluster, __salt), so a shuffled join re-partitions both sides
    // above it; a broadcast self-join keeps the streamed side as laid
    // out here.
    val assigned = kmeansAssignments(vectors, idCol, vecCol, k, iters, scale)
      .withColumn("__n2", dotLong(col("__q"), col("__q")))
      // explicitly SIZED repartition (round 16): unsized repartition(col)
      // lets AQE pick the width from shuffle BYTES (64 MB advisory) --
      // measured 2 partitions at sf1, starving the compute-heavy pair
      // scoring below; the session shuffle width is the intended
      // parallelism for exactly this relation
      .repartition(vectors.sparkSession.sessionState.conf.numShufflePartitions,
        col("cluster"))
    // The pair join is SALTED (round 16, guide §2.5): `cluster` has only
    // k distinct values, so an unsalted self-join puts each cluster's
    // quadratic pair work on ONE task — at most k of the cluster's
    // partitions ever carry work, whatever the corpus size. Salting the
    // A side by a hash of its id and replicating the B side `prunesalts`
    // ways keeps the pair set identical (each (a,b) meets exactly at
    // salt(a)) while splitting every cluster's compute `prunesalts` ways;
    // the cost is shuffling the B-side rows prunesalts times — linear
    // bytes traded against quadratic compute concentration.
    val pruneSalts = 16
    val a = assigned.select(
      col("cluster"), col(idCol).as("__ida"), col("__q").as("__qa"), col("__n2").as("__na"))
      .withColumn("__salt", pmod(xxhash64(col("__ida")), lit(pruneSalts.toLong)))
    val b = assigned.select(
      col("cluster"), col(idCol).as("__idb"), col("__q").as("__qb"), col("__n2").as("__nb"))
      .withColumn("__salt",
        explode(typedLit((0L until pruneSalts.toLong).toSeq)))
    val dups = a
      .join(b, Seq("cluster", "__salt"))
      .filter(col("__idb") < col("__ida"))
      .withColumn("__dot", dotLong(col("__qa"), col("__qb")))
      .filter(
        col("__dot").cast("double") /
          sqrt(col("__na").cast("double") * col("__nb").cast("double")) >= tau)
      .groupBy(col("__ida"))
      .agg(min(col("__idb")).as("dup_of"))
    assigned
      .select(col(idCol), col("cluster"))
      .join(dups, col(idCol) === col("__ida"), "left")
      .select(
        col(idCol), col("cluster"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
  }
}
