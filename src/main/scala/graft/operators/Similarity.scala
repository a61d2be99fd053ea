package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`) — SURVEY §7.1 north-star component.
  *
  * Two paths:
  *   - [[bruteForceKnn]]: exact baseline. Broadcast the (small) query set
  *     against the corpus — a map-side nested loop, no corpus shuffle, then
  *     a per-query top-k window. Correct at any corpus size as long as the
  *     query set is broadcastable.
  *   - [[ivfKnn]]: IVF-style scale path. A deterministic coarse quantizer
  *     (centroid list, broadcast) assigns every corpus vector to a cell
  *     (narrow); queries probe their `nProbe` closest cells, so each query
  *     scans ~nProbe/nCells of the corpus instead of all of it.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector. `queries` must be
    * small (it is broadcast). Ranking uses the rounded score with the
    * neighbor id as tiebreak, so results are deterministic. */
  def bruteForceKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c
      .join(q, col("query_id") =!= col("neighbor_id")) // broadcast NL join
      .withColumn("cosine", round(cosine(col("__qv"), col("__cv")), 6))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Exact top-k MAXIMUM-INNER-PRODUCT neighbors — retrieval under a
    * DOT-PRODUCT score, the objective unnormalized dual encoders and
    * recommender factor models actually train (cosine kNN silently
    * divides away the magnitude a popularity/quality-aware embedding
    * encodes on purpose). Same shape and determinism contract as
    * [[bruteForceKnn]]: queries broadcast, corpus never shuffles,
    * rounded score + id tie-break. This is the oracle gate; at scale,
    * [[mipsAugmentCorpus]]/[[mipsAugmentQueries]] reduce MIPS to the
    * cosine faces (IVF / IVF-PQ) this file already serves. */
  def bruteForceMips(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c
      .join(q, col("query_id") =!= col("neighbor_id")) // broadcast NL join
      .withColumn("dot",
        round(graft.functions.VectorFunctions
          .dot(col("__qv"), col("__cv")), 6))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"))
  }

  /** MIPS → cosine reduction, corpus side (Bachrach et al. RecSys 2014;
    * Shrivastava & Li NeurIPS 2014's asymmetric-transform family):
    * append one dimension sqrt(M² − ‖x‖²) to every corpus vector,
    * where M = the corpus's maximum norm. Every augmented corpus
    * vector then has norm exactly M, so for a zero-padded query
    * ([[mipsAugmentQueries]])
    *   cos([q,0], [x, √(M²−‖x‖²)]) = ⟨q,x⟩ / (M·‖q‖)
    * — a per-query-constant rescale of the inner product. Cosine
    * RANKING over augmented vectors IS inner-product ranking, so the
    * whole cosine ANN portfolio (IVF cells, PQ codes, the persisted
    * index lifecycle) serves MIPS without a new kernel.
    *
    * Scale shape: one max aggregation for M² (a scalar, broadcast as a
    * single-row crossJoin — the q61/q65 pattern), then a scan-local
    * projection. Pass the returned frame anywhere a (id, vector)
    * corpus goes. */
  def mipsAugmentCorpus(
      corpus: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val m2 = corpus.agg(
      max(dot(col(vecCol), col(vecCol))).as("__m2"))
    corpus
      .crossJoin(broadcast(m2))
      .select(col(idCol),
        concat(col(vecCol).cast("array<double>"),
          array(sqrt(greatest(
            col("__m2") - dot(col(vecCol), col(vecCol)),
            lit(0.0))))).as(vecCol))
  }

  /** MIPS → cosine reduction, query side: zero-pad — the appended
    * coordinate contributes nothing to the dot product, it only
    * equalizes dimensions. */
  def mipsAugmentQueries(
      queries: DataFrame,
      idCol: String,
      vecCol: String): DataFrame =
    queries.select(col(idCol),
      concat(col(vecCol).cast("array<double>"), array(lit(0.0))).as(vecCol))

  /** Deterministic coarse centroids: the `nCells` corpus vectors with the
    * smallest `xxhash64(id)` — a pseudo-random but reproducible sample.
    * `orderBy(...).limit(n)` plans as TakeOrderedAndProject: each
    * partition keeps its local top-n and only those tiny heads reach the
    * driver — no global sort, no single-task funnel, bounded collect. */
  def sampleCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int): Array[(Long, Seq[Double])] =
    corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(nCells)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }

  /** Int8-quantized brute-force kNN: per-vector symmetric quantization
    * (q_i = round(v_i / (maxAbs/127)), so the stored corpus is int8 —
    * 4x less memory/scan bandwidth than float32, 8x less than double —
    * and scoring is EXACT integer dot products rescaled by the two
    * per-vector scales. The quantization is deterministic arithmetic, so
    * unlike classic ANN this path is exactly reproducible (and
    * oracle-able) while still being the memory layout a 100 TB vector
    * corpus actually wants. Queries broadcast; corpus never shuffles. */
  def quantizedKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    def quantize(df: DataFrame, id: String, q: String, s: String) =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as("__v"))
        .withColumn("__ma", aggregate(col("__v"), lit(0.0), (a, x) => greatest(a, abs(x))))
        .withColumn(s, col("__ma") / 127.0)
        .withColumn(q, transform(col("__v"), x =>
          when(col("__ma") === 0.0, lit(0))
            .otherwise(round(x / col(s), 0).cast("int"))))
        .drop("__v", "__ma")
    val qs = broadcast(quantize(queries, "query_id", "__qq", "__qs"))
    val cs = quantize(corpus, "neighbor_id", "__qc", "__cs")
    val dotInt = aggregate(
      zip_with(col("__qq"), col("__qc"), (a, b) => (a * b).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val scored = cs
      .join(qs, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(dotInt.cast("double") * col("__qs") * col("__cs"), 6))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /** The deterministic ±1 projection matrix behind [[randomProjection]]:
    * signs from a splitmix64-style avalanche of (seed, j, i), so the
    * matrix is a pure function of its arguments — reproducible on any
    * engine (the DuckDB oracle inlines the same literals). */
  def projectionSigns(inDims: Int, outDims: Int, seed: Long): Seq[Seq[Long]] =
    Seq.tabulate(outDims, inDims) { (j, i) =>
      var z = seed + 0x9e3779b97f4a7c15L * (j.toLong * inDims + i + 1L)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e9b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      if ((z & 1L) == 0L) 1L else -1L
    }

  /** Signed random projection (the Achlioptas/Charikar ±1 family):
    * reduce `inDims`-dim vectors to `outDims` dims by a deterministic
    * ±1 matrix, in EXACT integer arithmetic over quantized coordinates
    * (`round(x * scale)` as long) — so unlike classic float random
    * projection the output is bit-identical across runs, partitionings,
    * and engines, and directly oracle-able. Angles are approximately
    * preserved (Johnson–Lindenstrauss), making the projected space a
    * cheap pre-filter for kNN: score in `outDims` dims, re-rank the
    * survivors with full-precision vectors.
    *
    * Scale shape: a pure projection — the matrix enters the scan as one
    * array literal, each output coordinate is a scan-local zip/fold, no
    * shuffle, no UDF, stays inside whole-stage codegen. Output vectors
    * are outDims longs per row (8 x outDims bytes — the compressed
    * representation a 100 TB re-scoring pass wants to scan).
    *
    * Magnitude envelope: |y_j| <= inDims * max|x| * scale, so any
    * unit-ish embedding is far inside Long range. */
  def randomProjection(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      inDims: Int,
      outDims: Int,
      seed: Long = 42L,
      scale: Double = 1e6): DataFrame = {
    require(inDims > 0 && outDims > 0,
      s"need positive dims; got inDims=$inDims outDims=$outDims")
    val signsLit = typedLit(projectionSigns(inDims, outDims, seed))
    val q = transform(col(vecCol).cast("array<double>"),
      x => round(x * lit(scale), 0).cast("long"))
    vectors
      .select(col(idCol), q.as("__q"))
      .select(
        col(idCol),
        transform(signsLit, row =>
          aggregate(zip_with(row, col("__q"), (s, x) => s * x),
            lit(0L), (acc, t) => acc + t)).as("proj"))
  }

  /** The `n` nearest centroid cells for a vector, scan-local: one native
    * [[graft.functions.expressions.NearestCells]] kernel per row, the
    * centroids held as expression fields (no join, no shuffle, and plan
    * strings name the cell count, not every coordinate). Shared by the
    * inline IVF join, the index writer, and the probe. */
  private def cellsFor(
      centroids: Array[(Long, Seq[Double])],
      vec: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column =
    graft.functions.expressions.Sketches.nearestCells(vec, centroids.toSeq, n)

  /** Corpus side of the IVF structure: (cell, neighbor_id, vector),
    * plus any `attrCols` carried verbatim — the metadata a FILTERED
    * probe ([[probeIvfIndex]]'s `filter`) predicates on. */
  private def cellAssignments(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[(Long, Seq[Double])],
      attrCols: Seq[String] = Nil): DataFrame =
    corpus.select(
      col(idCol).as("neighbor_id") +:
      col(vecCol).cast("array<double>").as("__cv") +:
      element_at(
        cellsFor(centroids, col(vecCol).cast("array<double>"), 1), 1).as("cell") +:
      attrCols.map(col): _*)

  /** Probe side: each query exploded to its `nProbe` best cells. */
  private def queryProbes(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[(Long, Seq[Double])],
      nProbe: Int): DataFrame =
    queries.select(
      col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"),
      explode(
        cellsFor(centroids, col(vecCol).cast("array<double>"), nProbe)).as("cell"))

  private def topK(
      scored: DataFrame, k: Int, extraCols: Seq[String] = Nil): DataFrame = {
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine")) ++ extraCols.map(col): _*)
  }

  /** IVF probe: assign corpus rows to their nearest centroid cell (narrow,
    * broadcast centroids), queries probe `nProbe` nearest cells; the join
    * is an equi-join on cell id — ONE shuffle keyed by cell, never n^2. */
  def ivfKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[(Long, Seq[Double])],
      nProbe: Int = 4): DataFrame = {
    val c = cellAssignments(corpus, idCol, vecCol, centroids)
    val q = queryProbes(queries, idCol, vecCol, centroids, nProbe)
    topK(
      q.join(c, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", round(cosine(col("__qv"), col("__cv")), 6)),
      k)
  }

  /** PERSIST the IVF structure: cell assignments written as a bucketed
    * managed table (bucketed AND sorted by cell). The quantization —
    * the expensive full-corpus pass — is paid once at build time;
    * probes then read the table with zero shuffle (bucketing) and,
    * because `cell` is the bucket column, a literal probe-cell filter
    * prunes untouched buckets at planning time. This is the batch-vs-
    * index asymmetry of [[ivfKnn]] — the embedding analogue of the
    * incremental shard-vs-corpus dedup (p09). */
  def writeIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[(Long, Seq[Double])],
      table: String,
      numBuckets: Int = 32,
      attrCols: Seq[String] = Nil): Unit =
    Bucketing.writeBucketed(
      cellAssignments(corpus, idCol, vecCol, centroids, attrCols),
      table, bucketCols = Seq("cell"), numBuckets = numBuckets,
      sortCols = Seq("cell", "neighbor_id"))

  /** APPEND new vectors to a persisted [[writeIvfIndex]] — index
    * maintenance without rebuild: only the new rows are quantized and
    * shuffled into their cell buckets ([[Bucketing.appendBucketed]]);
    * existing index files are untouched and later probes see old and
    * new vectors alike. Centroids MUST be the build's (the standard IVF
    * contract — cell geometry is fixed at build time; re-train and
    * rebuild when drift warrants). Single-writer batch step. */
  def appendIvfIndex(
      table: String,
      newCorpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[(Long, Seq[Double])],
      numBuckets: Int = 32,
      attrCols: Seq[String] = Nil): Unit =
    Bucketing.appendBucketed(
      cellAssignments(newCorpus, idCol, vecCol, centroids, attrCols),
      table, bucketCols = Seq("cell"), numBuckets = numBuckets,
      sortCols = Seq("cell", "neighbor_id"))

  /** PURGE vectors from a persisted [[writeIvfIndex]] — the takedown
    * half of IVF maintenance ([[appendIvfIndex]] is the ingest half):
    * the given ids leave the index entirely, so no probe can ever
    * return them as neighbors. Cell geometry is row-local and fixed at
    * build time (the IVF contract), so deletion is a pure row filter —
    * purge ≡ a fresh [[writeIvfIndex]] over the surviving corpus with
    * the same centroids, unconditionally (pinned in BucketingSpec; s08
    * gates it against the DuckDB oracle). The purge set broadcasts into
    * the LEFT ANTI (it builds the RIGHT side), the index is scanned but
    * never shuffled for the filter, and the surviving rows rewrite via
    * [[Bucketing.writeBucketed]] — staged, then committed, the inherent
    * cost of physical deletion in immutable storage. Single-writer
    * batch step. */
  def purgeIvfIndex(
      spark: SparkSession,
      table: String,
      purgeIds: DataFrame,
      numBuckets: Int = 32): Unit = {
    val ids = purgeIds
      .select(col(purgeIds.columns.head).cast("long").as("__pid")).distinct()
    val idx = spark.table(table)
    Bucketing.writeBucketed(
      idx.join(broadcast(ids), idx("neighbor_id") === ids("__pid"), "left_anti"),
      table, bucketCols = Seq("cell"), numBuckets = numBuckets,
      sortCols = Seq("cell", "neighbor_id"))
  }

  /** Probe a persisted [[writeIvfIndex]] table: queries (small) probe
    * their `nProbe` best cells against the INDEX ONLY. The query side is
    * collected ONCE — id, vector and probed cells per query — and both
    * the `cell IN (probed...)` list and the broadcast join side are taken
    * from those rows, so the query input is scanned once and no job runs
    * just to enumerate cells. Plan shape, pinned in BucketingSpec: the
    * index side has NO Exchange (the query side broadcasts) and the
    * `cell IN (probed...)` literal prunes non-probed buckets inside the
    * scan — the corpus is neither shuffled nor fully read, which is the
    * entire point of persisting the index.
    *
    * `filter` is FILTERED vector search (the vector-DB metadata
    * predicate): a Column over the index's `attrCols` applied INSIDE
    * the pruned index scan — PRE-filtering, so every one of the final
    * `k` neighbors satisfies it (post-filtering top-k can return fewer
    * than k or none). Candidates shrink but the probed cells do not:
    * with a selective predicate raise `nProbe` to hold recall — the
    * standard filtered-ANN recall dial. */
  def probeIvfIndex(
      spark: SparkSession,
      table: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[(Long, Seq[Double])],
      nProbe: Int = 4,
      filter: Option[org.apache.spark.sql.Column] = None,
      passAttrs: Seq[String] = Nil): DataFrame = {
    val probes = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"),
      cellsFor(centroids, col(vecCol).cast("array<double>"), nProbe).as("cell"))
    // bounded: |queries| rows of nProbe cell ids each
    val rows = probes.collect()
    val q = spark.createDataFrame(
      java.util.Arrays.asList(rows.flatMap(r =>
        r.getSeq[Long](2).map(c => Row(r.get(0), r.get(1), c))): _*),
      StructType(probes.schema.fields.init :+
        StructField("cell", LongType, nullable = false)))
    val probed = rows.flatMap(_.getSeq[Long](2)).distinct.sorted
    val idx = filter.foldLeft(
      spark.table(table)
        .filter(col("cell").isin(probed.toSeq: _*)))(_.filter(_))
    topK(
      broadcast(q).join(idx, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", round(cosine(col("__qv"), col("__cv")), 6)),
      k, passAttrs)
  }

  /** K-CENTER GREEDY coreset selection (Sener & Savarese 2018; Gonzalez
    * 1985 2-approximation) — the diverse-exemplar data-pruning method:
    * pick the vector farthest from the already-selected set, k times,
    * so the selection COVERS the embedding space (every corpus point is
    * within the final `dist_q` of some exemplar — the returned radii
    * are the coverage certificate, decreasing by construction). The
    * complement of density-based pruning: SemDeDup (d11) removes what
    * is over-represented, the coreset KEEPS what spans.
    *
    * Determinism is the contract (the [[Clustering]] discipline):
    * coordinates quantize to a 1e6 integer grid, distances are exact
    * long squared-L2 sums, the farthest-point argmax tie-breaks on the
    * smaller id, and the seed is the smallest id — every run,
    * partitioning, and the unrolled-CTE oracle agree bit-for-bit.
    *
    * Scale shape: k bounded rounds, INCREMENTAL min-distance — round r
    * only measures each point against the ONE newest center
    * (`d_r = min(d_{r-1}, dist(x, c_r))`, which equals the min over
    * the full selected set), so the per-round plan carries a single
    * d-dimensional center literal plus the running `__d` column, NOT
    * an O(r·d) selected-set literal: plan size is O(d) at ANY k (the
    * driver-heap failure mode an unrolled selected-set literal hits as
    * k×d grows — SimilaritySpec pins plan-size flatness at k=64). Each
    * round is one `TakeOrderedAndProject` head (no shuffle of the
    * corpus, ever) plus the `checkpointer` cut that keeps lineage one
    * scan deep; driver state is one d-vector. Output: (rank, idCol,
    * dist_q) — dist_q = the squared quantized distance at selection
    * time (0 for the seed); an empty corpus yields an empty frame. */
  def kCenterGreedy(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      scale: Long = 1000000L,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    require(k >= 1 && scale >= 1, s"bad coreset params: k=$k scale=$scale")
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = corpus.select(
      col(idCol).cast("long").as("__id"),
      transform(col(vecCol).cast("array<double>"),
        x => round(x * scale, 0).cast("long")).as("__q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seed = q.orderBy(col("__id").asc).limit(1).collect()
      if (seed.isEmpty) return Seq.empty[(Int, Long, Long)].toDF("rank", idCol, "dist_q")
      def distTo(center: Seq[Long]) =
        aggregate(
          zip_with(col("__q"), array(center.map(lit): _*),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
      // state: (__id, __q, __d = squared dist to nearest selected,
      // __sel) — cut each round so the plan never accumulates rounds
      var cur = checkpointer.cut(
        q.select(col("__id"), col("__q"),
          distTo(seed(0).getSeq[Long](1)).as("__d"),
          (col("__id") === seed(0).getLong(0)).as("__sel")),
        eager = true)
      val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)](
        (1, seed(0).getLong(0), 0L))
      for (r <- 2 to k) {
        val far = cur
          .filter(!col("__sel"))
          .orderBy(col("__d").desc, col("__id").asc)
          .limit(1)
          .collect()
        if (far.nonEmpty) {
          val row = far(0)
          out += ((r, row.getLong(0), row.getLong(2)))
          cur = checkpointer.cut(
            cur.select(col("__id"), col("__q"),
              least(col("__d"), distTo(row.getSeq[Long](1))).as("__d"),
              (col("__sel") || col("__id") === row.getLong(0)).as("__sel")),
            eager = true)
        }
      }
      out.toSeq.toDF("rank", idCol, "dist_q")
    } finally { q.unpersist(); () }
  }

  /** WEIGHTED kNN CLASSIFICATION — the vote step over ANY ranked
    * neighbor list (the [[graft.operators.Graph
    * .labelPropagationQuantized]] single-shot serving face): label each
    * query by the cosine-weighted majority of its neighbors' labels.
    * Composes with every kNN face here ([[bruteForceKnn]] for an exact
    * gate, [[probeIvfIndex]] / [[pqKnn]] at scale) because it only sees
    * the (query_id, neighbor_id, cosine) output — the production shape
    * for auto-labeling a stream of new documents against a labeled,
    * indexed corpus.
    *
    * Weights are 1e6-quantized cosines clamped at 0 (negative
    * similarity does not vote), so tallies are exact long sums; the
    * argmax breaks ties toward the smaller label — bit-identical under
    * any partitioning and in the oracle replay (s14). Output:
    * (query_id, label, votes, n_neighbors); a query whose neighbors
    * all have non-positive similarity still labels (all-zero tallies
    * tie-break to the smallest candidate label).
    *
    * Scale shape: neighbors are top-k lists (k rows per query); the
    * labels join is keyed by neighbor id, the tally is one
    * (query, label) keyed long aggregation, the argmax a per-query
    * WindowGroupLimit. Nothing rescans the corpus. */
  def knnClassify(
      neighbors: DataFrame,
      labels: DataFrame,
      idCol: String,
      labelCol: String): DataFrame =
    knnClassifyAttached(
      neighbors
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
        .join(labels.select(col(idCol).as("neighbor_id"), col(labelCol)),
          Seq("neighbor_id")),
      labelCol)

  /** [[knnClassify]] when the label already RIDES the neighbor rows —
    * the zero-extra-scan form for indexes built with the label as an
    * attrCol ([[probeIvfIndex]]'s `passAttrs` hands it through the
    * bucket-pruned probe): no label join at all, just the one
    * batch-bounded (query, label) tally and the per-query argmax. */
  def knnClassifyAttached(neighbors: DataFrame, labelCol: String): DataFrame = {
    val tallies = neighbors
      .select(col("query_id"),
        greatest(lit(0L),
          round(col("cosine") * 1000000.0, 0).cast("long")).as("__w"),
        col(labelCol).cast("long").as("__l"))
      .groupBy(col("query_id"), col("__l"))
      .agg(sum(col("__w")).as("votes"), count(lit(1)).as("n_neighbors"))
    tallies
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("votes").desc, col("__l").asc)))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("__l").as("label"),
        col("votes"), col("n_neighbors"))
  }

  /** Recall@k of the IVF path against exact brute force, per query and
    * probe budget — the evaluation every production ANN deployment runs
    * to place itself on the recall/cost curve before trusting the index.
    * Output: one row per (query_id, n_probe) with `hits` (|approx top-k
    * ∩ exact top-k|) and `recall` (= hits/k, rounded to 6).
    *
    * All budgets share ONE candidate pass: each query is exploded to its
    * `max(nProbes)` best cells tagged with the probe rank, and a
    * candidate found at rank r is visible to every budget p >= r — the
    * budget expansion is a scan-local lambda filter over the budget
    * array literal, not a join, so adding budgets costs only the extra
    * per-(query,budget) window rows. A budget equal to the centroid
    * count probes every cell, making the candidate set identical to
    * brute force — recall is exactly 1.0 there by construction (same
    * rounding, same tiebreaks), which doubles as a built-in self-check
    * (pinned in SimilaritySpec, with monotonicity in n_probe).
    *
    * Scale shape: the corpus is scanned twice (truth baseline + cell
    * assignment) and never shuffled — the query side broadcasts into
    * both joins, candidates shuffle once keyed by (query, budget) for
    * the top-k windows. The exact baseline prices the evaluation at
    * |queries| x |corpus| scoring, which is why recall is measured on a
    * SAMPLED query set (the `queries` argument), never corpus x corpus. */
  def annRecallCurve(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[(Long, Seq[Double])],
      nProbes: Seq[Int]): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(_ > 0),
      s"need positive probe budgets; got $nProbes")
    val budgets = nProbes.distinct.sorted
    val truth = bruteForceKnn(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    val q = queries
      .select(
        col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .select(
        col("query_id"), col("__qv"),
        posexplode(cellsFor(centroids, col("__qv"), budgets.max))
          .as(Seq("__pos", "cell")))
    val cand = broadcast(q).join(
        cellAssignments(corpus, idCol, vecCol, centroids), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine(col("__qv"), col("__cv")), 6))
      .withColumn("n_probe",
        explode(filter(typedLit(budgets), p => col("__pos") < p)))
    val w = Window
      .partitionBy(col("query_id"), col("n_probe"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .select(col("query_id"), col("n_probe"), col("neighbor_id"))
      .join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"), col("n_probe"))
      .agg(
        count(col("__hit")).as("hits"),
        round(count(col("__hit")).cast("double") / k, 6).as("recall"))
  }

  /** EXACT-ARITHMETIC PCA fit over an embedding column — the learned
    * counterpart of [[randomProjection]]: where JL sign projection
    * preserves angles obliviously, PCA picks the `outDims` directions
    * that actually carry the corpus's variance, the standard
    * dimensionality-reduction / whitening step before a vector index
    * (an IVF over 8 informative dims beats one over 64 noisy ones).
    * Returns the `outDims x inDims` projection matrix: unit
    * eigenvectors of the covariance, eigenvalue-descending,
    * sign-canonicalized (largest-|component| coordinate positive).
    *
    * Determinism contract (the property float PCA lacks): second
    * moments aggregate over QUANTIZED coordinates (round(x*scale) as
    * long — [[randomProjection]]'s quantizer) into DECIMAL(38,0) sums —
    * exact, associative, partition-order-independent; the covariance
    * numerators n*M_ij - s_i*s_j are assembled in BigInt on the driver;
    * the cyclic-Jacobi eigensolve is single-threaded with a fixed sweep
    * order. Same corpus => bit-identical matrix under ANY partitioning
    * (pinned in SimilaritySpec), which is what lets s09's DuckDB oracle
    * replay the projection from embedded literals.
    *
    * Scale shape: ONE aggregation pass (inDims*(inDims+1)/2 + inDims
    * mergeable columns + count, map-side partials) collapses the corpus
    * to a single driver row; the O(inDims^3) eigensolve is driver-side
    * on an inDims x inDims matrix — corpus-size-independent. The
    * projection itself ([[pcaProject]]) is a scan-local fixed-order
    * fold: no shuffle, no UDF, inside whole-stage codegen. */
  def fitPca(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      inDims: Int,
      outDims: Int,
      scale: Double = 1e6): Array[Array[Double]] = {
    require(inDims > 0 && outDims > 0 && outDims <= inDims,
      s"need 0 < outDims <= inDims; got inDims=$inDims outDims=$outDims")
    val q = transform(col(vecCol).cast("array<double>"),
      x => round(x * lit(scale), 0).cast("long"))
    def qi(i: Int) = element_at(col("__q"), i + 1)
    val moments: Seq[org.apache.spark.sql.Column] =
      (for { i <- 0 until inDims; j <- i until inDims }
        yield sum((qi(i) * qi(j)).cast("decimal(38,0)")).as(s"m_${i}_$j")) ++
        (0 until inDims).map(i => sum(qi(i).cast("decimal(38,0)")).as(s"s_$i")) :+
        count(lit(1L)).as("n")
    val row = vectors.select(q.as("__q")).agg(moments.head, moments.tail: _*)
      .collect()(0)
    def dec(name: String) =
      BigInt(row.getAs[java.math.BigDecimal](name).toBigInteger)
    val n = BigInt(row.getAs[Long]("n"))
    require(n > 0, "fitPca needs a non-empty corpus")
    val sums = Array.tabulate(inDims)(i => dec(s"s_$i"))
    // scaled covariance numerator; the global 1/(n^2 scale^2) factor
    // does not move eigenvectors
    val cov = Array.tabulate(inDims, inDims) { (i, j) =>
      val (lo, hi) = (math.min(i, j), math.max(i, j))
      (n * dec(s"m_${lo}_$hi") - sums(i) * sums(j)).toDouble
    }
    val (vals, vecs) = jacobiEigen(cov)
    val order = vals.zipWithIndex
      .sortBy { case (v, i) => (-v, i) }
      .map(_._2)
      .take(outDims)
    order.map { k =>
      val ev = Array.tabulate(inDims)(i => vecs(i)(k))
      val pivot = ev.zipWithIndex
        .maxBy { case (x, i) => (math.abs(x), -i) }._2
      if (ev(pivot) < 0.0) ev.map(-_) else ev
    }.toArray
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix:
    * (eigenvalues, eigenvector COLUMNS). Fixed (p,q) sweep order and a
    * relative off-diagonal stopping rule — fully deterministic. */
  private def jacobiEigen(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = Array.tabulate(n, n)((i, j) => m(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0; var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    val diagScale = {
      var s = 0.0; var i = 0
      while (i < n) { s += a(i)(i) * a(i)(i); i += 1 }
      math.max(s, java.lang.Double.MIN_NORMAL)
    }
    var sweep = 0
    while (sweep < 64 && off() > 1e-24 * diagScale) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0.0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            val tau = s / (1.0 + c)
            val app = a(p)(p); val aqq = a(q)(q)
            a(p)(p) = app - t * apq
            a(q)(q) = aqq + t * apq
            a(p)(q) = 0.0; a(q)(p) = 0.0
            var i = 0
            while (i < n) {
              if (i != p && i != q) {
                val aip = a(i)(p); val aiq = a(i)(q)
                a(i)(p) = aip - s * (aiq + tau * aip); a(p)(i) = a(i)(p)
                a(i)(q) = aiq + s * (aip - tau * aiq); a(q)(i) = a(i)(q)
              }
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = vip - s * (viq + tau * vip)
              v(i)(q) = viq + s * (vip - tau * viq)
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI 2011)
    * from the corpus's own anchor rows: the vector space splits into
    * `numSubspaces` contiguous blocks, and block `m`'s codebook is the
    * m-th block of the [[sampleCentroids]] anchor vectors (the
    * deterministic smallest-xxhash64 sample — same quantizer discipline
    * as the IVF path, which is what keeps the whole pipeline exactly
    * replayable). Returns codebooks(m)(k) = the subDim-length codeword. */
  def pqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      inDims: Int,
      numSubspaces: Int = 8,
      numCodes: Int = 16): Array[Array[Seq[Double]]] = {
    require(inDims % numSubspaces == 0, "numSubspaces must divide inDims")
    val sub = inDims / numSubspaces
    val anchors = sampleCentroids(corpus, idCol, vecCol, numCodes)
    Array.tabulate(numSubspaces, numCodes) { (m, k) =>
      anchors(k)._2.slice(m * sub, (m + 1) * sub)
    }
  }

  /** Squared-L2 distance between block `m` (0-based, a lambda-bound
    * int column) of a vector and a codeword array, as a fixed LEFT fold
    * over the block coordinates — identical op order to the DuckDB
    * replay's `0.0 + (e[..]-c[..])*(e[..]-c[..]) + ...` chain. A
    * higher-order `aggregate`, NOT an unrolled expression: the plan
    * stays O(1) in both the codeword count and the block width (an
    * unrolled 256-codeword encoder was a ~100k-node expression tree —
    * codegen and broadcast-planning blew the driver heap). */
  private def subDist(
      vec: org.apache.spark.sql.Column,
      m: org.apache.spark.sql.Column,
      sub: Int,
      codeword: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(sequence(lit(1), lit(sub)), lit(0.0), (acc, i) => {
      val x = element_at(vec, m * lit(sub) + i)
      val c = element_at(codeword, i)
      acc + (x - c) * (x - c)
    })

  /** PQ-compressed approximate kNN — ADC shortlist + exact re-rank, the
    * MEMORY scale path of the similarity family: every corpus vector is
    * stored as `numSubspaces` small codes (8 bytes here vs 256 for
    * float32 at 64 dims), each query scores the WHOLE corpus through a
    * per-query LOOKUP TABLE (asymmetric distance: exact query block vs
    * quantized corpus block), keeps the `shortlist` best candidates,
    * and only THOSE re-attach their raw vectors for an exact cosine
    * re-rank — a 100 TB pass reads codes corpus-wide and raw floats for
    * |queries| x shortlist rows.
    *
    * Plan shape: encoding is scan-local (codebook literals, per-block
    * argmin via array_min over (round-9 distance, code) structs —
    * lexicographic struct order gives the code-asc tiebreak, the s02
    * quantizer discipline); queries broadcast WITH their precomputed
    * LUTs; the ADC scoring join moves only codes; the shortlist is a
    * per-query WindowGroupLimit; the re-rank fetches raw vectors
    * through a BROADCAST of the shortlist (the corpus side stays
    * scan-local — no corpus shuffle anywhere). Determinism: every
    * distance is a fixed left fold, ADC totals fold LUT entries in
    * block order, both rank boundaries tie-break on neighbor id — s10's
    * DuckDB oracle replays the whole cascade exactly. */
  def pqKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      codebooks: Array[Array[Seq[Double]]],
      shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val numSub = codebooks.length
    val numCodes = codebooks(0).length
    val sub = codebooks(0)(0).length
    val v = col(vecCol).cast("array<double>")
    val cbLit = codebookLit(codebooks)
    val coded = corpus.select(
      col(idCol).as("neighbor_id"),
      v.as("__cv"))
      .select(
        col("neighbor_id"),
        pqCodesExpr(col("__cv"), codebooks).as("__codes"))
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), v.as("__qv"))
        .select(
          col("query_id"),
          pqLutExpr(col("__qv"), cbLit, numSub, numCodes, sub).as("__lut")))
    val adist = pqAdistExpr(col("__lut"), col("__codes"), numSub, numCodes)
    val wShort = Window
      .partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    val short = coded
      .join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(adist, 6))
      .withColumn("__srank", row_number().over(wShort))
      .filter(col("__srank") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(
      corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("__cv")),
      queries, short, idCol, vecCol, k)
  }

  /** The codebooks as ONE nested-array plan literal [m][k][i]. */
  private def codebookLit(codebooks: Array[Array[Seq[Double]]]) =
    typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  private def codewordAt(
      cbLit: org.apache.spark.sql.Column,
      m: org.apache.spark.sql.Column,
      k: org.apache.spark.sql.Column) =
    element_at(element_at(cbLit, m + 1), k + 1)

  /** Per-block nearest-codeword codes — the native codegen kernel
    * [[graft.functions.expressions.PqEncode]] (round-9 left-fold
    * distances, smallest-code tiebreak — the same arithmetic, and the
    * same oracle contract, as the lexicographic struct-min HOF cascade
    * it replaced; that version paid an interpreted lambda dispatch per
    * FLOP and made the corpus encode pass ~1000× slower than the
    * arithmetic). Encoding is the corpus-side cost of the PQ family —
    * numSub·numCodes·sub FLOPs per row — so it is the one stage that
    * must be a tight per-row loop. */
  private def pqCodesExpr(
      vec: org.apache.spark.sql.Column,
      codebooks: Array[Array[Seq[Double]]]): org.apache.spark.sql.Column =
    graft.functions.expressions.PqEncode.codes(vec, codebooks)

  /** Per-query ADC lookup table: m-major, code-minor, unrounded. */
  private def pqLutExpr(
      vec: org.apache.spark.sql.Column,
      cbLit: org.apache.spark.sql.Column,
      numSub: Int,
      numCodes: Int,
      sub: Int): org.apache.spark.sql.Column =
    flatten(transform(sequence(lit(0), lit(numSub - 1)), m =>
      transform(sequence(lit(0), lit(numCodes - 1)), k =>
        subDist(vec, m, sub, codewordAt(cbLit, m, k)))))

  /** ADC total: LUT entries folded in block order — the native
    * [[graft.functions.expressions.AdcDist]] kernel (round 11; formerly
    * an `aggregate`/`element_at` HOF fold that paid an interpreted
    * lambda dispatch per block PER CANDIDATE PAIR — the probe-side twin
    * of the PqEncode promotion; native≡HOF pinned in PqSpec). */
  private def pqAdistExpr(
      lut: org.apache.spark.sql.Column,
      codes: org.apache.spark.sql.Column,
      numSub: Int,
      numCodes: Int): org.apache.spark.sql.Column =
    graft.functions.expressions.AdcDist.dist(lut, codes, numSub, numCodes)

  /** IVF-PQ: the canonical big-vector-corpus index (Jégou et al. 2011
    * §IV; FAISS IndexIVFPQ with by_residual=false) — coarse cells
    * prune WHICH corpus fraction each query touches, PQ codes shrink
    * WHAT each touched row costs: a query reads ~nProbe/nCells of the
    * corpus as 8-byte codes, shortlists by ADC, and re-ranks only the
    * shortlist with raw vectors. Composes the s02 cell machinery
    * (deterministic smallest-xxhash64 centroids, round-9 cosine cell
    * assignment with cid tiebreak) with the s10 PQ cascade verbatim —
    * and the s11 oracle replays BOTH, composed.
    *
    * Plan shape: one scan-local corpus pass emits (cell, codes); the
    * candidate join is keyed by cell against the broadcast probe side;
    * shortlist and re-rank are the [[pqKnn]] stages. No corpus shuffle
    * anywhere; every corpus vector lives in exactly ONE cell, so no
    * candidate dedup is needed. */
  def ivfPqKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[(Long, Seq[Double])],
      codebooks: Array[Array[Seq[Double]]],
      nProbe: Int = 4,
      shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val numSub = codebooks.length
    val numCodes = codebooks(0).length
    val sub = codebooks(0)(0).length
    val v = col(vecCol).cast("array<double>")
    val cbLit = codebookLit(codebooks)
    val coded = corpus
      .select(col(idCol).as("neighbor_id"), v.as("__cv"))
      .select(
        col("neighbor_id"),
        element_at(cellsFor(centroids, col("__cv"), 1), 1).as("cell"),
        pqCodesExpr(col("__cv"), codebooks).as("__codes"))
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), v.as("__qv"))
        .select(
          col("query_id"),
          pqLutExpr(col("__qv"), cbLit, numSub, numCodes, sub).as("__lut"),
          explode(cellsFor(centroids, col("__qv"), nProbe)).as("cell")))
    val wShort = Window
      .partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    val short = coded
      .join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist",
        round(pqAdistExpr(col("__lut"), col("__codes"), numSub, numCodes), 6))
      .withColumn("__srank", row_number().over(wShort))
      .filter(col("__srank") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(
      corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("__cv")),
      queries, short, idCol, vecCol, k)
  }

  /** Exact cosine re-rank of a bounded (query_id, neighbor_id)
    * shortlist: raw vectors re-attach through a BROADCAST of the
    * shortlist (the vector side stays scan-local), the query vector
    * re-broadcasts with it, final ranks tie-break on neighbor id.
    * `corpusVecs` is pre-shaped (neighbor_id, __cv) — the raw corpus
    * for the inline cascades, the index's stored vectors for the
    * persisted probe. */
  /** TRUNCATED-DIMENSION two-stage kNN — the Matryoshka-representation
    * serving pattern (Kusupati et al. 2022): shortlist by cosine over
    * only the first `prefixDims` coordinates (MRL-trained embeddings
    * front-load information, so a short prefix ranks well), then
    * re-rank the shortlist with the exact full-dimension cosine. The
    * zero-training cousin of [[pqKnn]]'s cascade: the scan's bandwidth
    * and FLOPs drop by dims/prefixDims in stage one, and full-width
    * vectors move only for |queries| x shortlist rows through the
    * re-rank broadcast — the corpus itself never shuffles.
    * Determinism: both stages round at 6dp and tie-break on neighbor
    * id, so the s16 oracle replays the cascade exactly. */
  def truncatedKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      prefixDims: Int,
      shortlist: Int = 50): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be >= 1, got $prefixDims")
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val v = col(vecCol).cast("array<double>")
    val pref = (c: org.apache.spark.sql.Column) => slice(c, 1, prefixDims)
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), v.as("__qv")))
    val wShort = Window
      .partitionBy(col("query_id"))
      .orderBy(col("__pcos").desc, col("neighbor_id").asc)
    val short = corpus
      .select(col(idCol).as("neighbor_id"), pref(v).as("__cp"))
      .join(q.select(col("query_id"), pref(col("__qv")).as("__qp")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("__pcos", round(cosine(col("__qp"), col("__cp")), 6))
      .withColumn("__srank", row_number().over(wShort))
      .filter(col("__srank") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(
      corpus.select(col(idCol).as("neighbor_id"), v.as("__cv")),
      queries, short, idCol, vecCol, k)
  }

  private def exactRerank(
      corpusVecs: DataFrame,
      queries: DataFrame,
      short: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val qv = broadcast(
      queries.select(
        col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qv")))
    val wFinal = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    corpusVecs
      .join(broadcast(short), Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("cosine", round(cosine(col("__qv"), col("__cv")), 6))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** One corpus row of the IVF-PQ index: cell, codes, and the stored
    * vector (for the probe's exact re-rank) — all scan-local. */
  private def ivfPqRows(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[(Long, Seq[Double])],
      codebooks: Array[Array[Seq[Double]]]): DataFrame = {
    val (numSub, numCodes, sub) =
      (codebooks.length, codebooks(0).length, codebooks(0)(0).length)
    val cbLit = codebookLit(codebooks)
    corpus
      .select(
        col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("__cv"))
      .select(
        col("neighbor_id"),
        element_at(cellsFor(centroids, col("__cv"), 1), 1).as("cell"),
        pqCodesExpr(col("__cv"), codebooks).as("__codes"),
        col("__cv"))
  }

  /** PERSIST the IVF-PQ structure ([[ivfPqKnn]]'s batch-vs-index
    * asymmetry, like [[writeIvfIndex]] for plain IVF): one scan-local
    * corpus pass emits (cell, codes, stored vector), written bucketed+
    * sorted by cell — probes then prune untouched buckets at planning
    * time AND read 8-byte codes for the ADC pass; the stored vector
    * column is touched only by the re-rank's shortlist join. */
  def writeIvfPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[(Long, Seq[Double])],
      codebooks: Array[Array[Seq[Double]]],
      table: String,
      numBuckets: Int = 32): Unit =
    Bucketing.writeBucketed(
      ivfPqRows(corpus, idCol, vecCol, centroids, codebooks),
      table, bucketCols = Seq("cell"), numBuckets = numBuckets,
      sortCols = Seq("cell", "neighbor_id"))

  /** APPEND new vectors to a persisted [[writeIvfPqIndex]]: only the
    * batch is quantized/encoded and shuffled into its cell buckets —
    * existing files untouched. Centroids AND codebooks must be the
    * build's (the fixed-quantizer contract; re-train and rebuild when
    * drift warrants). Single-writer batch step. */
  def appendIvfPqIndex(
      table: String,
      newCorpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[(Long, Seq[Double])],
      codebooks: Array[Array[Seq[Double]]],
      numBuckets: Int = 32): Unit =
    Bucketing.appendBucketed(
      ivfPqRows(newCorpus, idCol, vecCol, centroids, codebooks),
      table, bucketCols = Seq("cell"), numBuckets = numBuckets,
      sortCols = Seq("cell", "neighbor_id"))

  /** Probe a persisted [[writeIvfPqIndex]]: the full [[ivfPqKnn]]
    * cascade served from the index — the `cell IN (probed...)` literal
    * prunes non-probed buckets inside the code scan (planning-time
    * bucket pruning, pinned in BucketingSpec), the ADC join reads only
    * (cell, codes), and the re-rank joins the bounded shortlist back to
    * the index's stored vectors. The index is never shuffled; probe ≡
    * inline [[ivfPqKnn]] bit-for-bit (pinned in BucketingSpec; s12
    * shares s11's oracle). */
  def probeIvfPqIndex(
      spark: SparkSession,
      table: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[(Long, Seq[Double])],
      codebooks: Array[Array[Seq[Double]]],
      nProbe: Int = 4,
      shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val (numSub, numCodes, sub) =
      (codebooks.length, codebooks(0).length, codebooks(0)(0).length)
    val cbLit = codebookLit(codebooks)
    val q = queries
      .select(
        col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .select(
        col("query_id"),
        pqLutExpr(col("__qv"), cbLit, numSub, numCodes, sub).as("__lut"),
        explode(cellsFor(centroids, col("__qv"), nProbe)).as("cell"))
    // bounded: |queries| x nProbe cell ids
    val probed = q.select(col("cell")).distinct().collect().map(_.getLong(0))
    val idx = spark.table(table).filter(col("cell").isin(probed.toSeq: _*))
    val wShort = Window
      .partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    val short = broadcast(q)
      .join(idx.select(col("cell"), col("neighbor_id"), col("__codes")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist",
        round(pqAdistExpr(col("__lut"), col("__codes"), numSub, numCodes), 6))
      .withColumn("__srank", row_number().over(wShort))
      .filter(col("__srank") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(
      spark.table(table).select(col("neighbor_id"), col("__cv")),
      queries, short, idCol, vecCol, k)
  }

  /** Project an embedding column through a [[fitPca]] matrix: output
    * columns p0..p{k-1}, each a fixed-left-fold dot product over the
    * full-precision (double-cast) coordinates, round(6) over the libm
    * ulp. Scan-local — no shuffle, no UDF, whole-stage codegen; the
    * matrix enters the plan as literals. */
  def pcaProject(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      projection: Array[Array[Double]]): DataFrame = {
    val projected = vectors
      .select(col(idCol), col(vecCol).cast("array<double>").as("__e"))
    val outs = projection.zipWithIndex.map { case (prow, j) =>
      round(
        prow.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (w, i)) =>
          acc + element_at(col("__e"), i + 1) * lit(w)
        },
        6).as(s"p$j")
    }
    projected.select(col(idCol) +: outs.toSeq: _*)
  }

  /** MARGIN-BASED BITEXT MINING scores (Artetxe & Schwenk, ACL 2019
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings") — the ratio margin that made mined parallel corpora
    * (CCMatrix/ParaCrawl-class pipelines) usable where raw cosine
    * thresholds fail: absolute cosine is miscalibrated per sentence
    * (hubs score high against EVERYTHING), so each candidate pair is
    * scored RELATIVE to both sides' neighborhoods:
    *
    *   margin(x, y) = cos(x, y) / ((avgF(x) + avgB(y)) / 2)
    *
    * where avgF(x) = mean cosine of x's forward k-NN and avgB(y) the
    * mean of y's backward k-NN. A hub's inflated cosines inflate its
    * own denominator and cancel out; a genuinely parallel pair stands
    * above BOTH neighborhoods.
    *
    * Takes the two NEIGHBOR LISTS, not the corpora — the composition
    * contract of [[knnClassify]] and [[graft.operators.Graph
    * .labelPropagationQuantized]]: feed [[bruteForceKnn]] for the
    * exact oracle gate, [[probeIvfIndex]]/[[ivfPqKnn]] at 100 TB; this
    * operator never rescans vectors. Both inputs are
    * (query_id, rank, neighbor_id, cosine) — forward queries the
    * SOURCE side against the target corpus, backward the reverse.
    *
    * Determinism: cosines arrive 6dp-rounded (every kNN face here);
    * the neighborhood sums accumulate as exact DECIMAL(18,6) (double
    * summation order would be partitioning-dependent), and the margin
    * is one fixed-order double expression, rounded — bit-identical
    * under any partitioning and in the DuckDB replay. A zero combined
    * neighborhood average yields a NULL margin (division guard).
    *
    * Scale shape: inputs are top-k lists (k rows per id), so
    * everything here is corpus-size-free past the retrievers — two
    * id-keyed aggregations of k-row groups, two keyed joins (AQE
    * broadcasts the tiny avg relations), one per-src WindowGroupLimit
    * for the margin rank. `forward` is referenced TWICE in the plan
    * (pair scoring + its own neighborhood aggregate): the lists are
    * k×|queries| rows — small by construction — but when the
    * retrieval itself is expensive, persist (or write) the neighbor
    * lists before calling, exactly as the graph operators persist
    * their edge lists. Output: (src_id, tgt_id, cosine, margin,
    * mrank); `mrank = 1` rows are the mined pair per source — filter
    * `margin >= threshold` for the final bitext. */
  def marginScores(forward: DataFrame, backward: DataFrame): DataFrame = {
    val fa = forward.groupBy(col("query_id").as("__fid"))
      .agg(sum(col("cosine").cast("decimal(18,6)")).as("__sf"),
        count(lit(1)).as("__nf"))
    val ba = backward.groupBy(col("query_id").as("__bid"))
      .agg(sum(col("cosine").cast("decimal(18,6)")).as("__sb"),
        count(lit(1)).as("__nb"))
    val denom = (col("__sf").cast("double") / col("__nf") +
      col("__sb").cast("double") / col("__nb")) / lit(2.0)
    forward
      .select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
        col("cosine"))
      .join(fa, col("src_id") === col("__fid"))
      .join(ba, col("tgt_id") === col("__bid"))
      .select(col("src_id"), col("tgt_id"), col("cosine"),
        when(denom === 0.0, lit(null).cast("double"))
          .otherwise(round(col("cosine") / denom, 6)).as("margin"))
      .withColumn("mrank", row_number().over(
        Window.partitionBy(col("src_id"))
          .orderBy(col("margin").desc, col("tgt_id").asc)))
  }

  /** Embedding-quality report (Wang & Isola ICML 2020): ALIGNMENT —
    * mean squared distance between same-label pairs (positives should
    * sit close) — and UNIFORMITY — ln E[exp(−2‖x−y‖²)] over vector
    * pairs (the whole cloud should spread over the sphere; collapsed
    * embeddings score near 0) — the two numbers that predict
    * contrastive-embedding transfer before any retrieval eval runs.
    *
    * Determinism: vectors quantize to the 1e6 long grid, distances are
    * exact integer sums, each pair's exp quantizes to 1e9 before the
    * sum (so a 1-ulp libm divergence cannot move the total), and both
    * final statistics are fixed-shape doubles rounded to 6.
    *
    * Scale shape: a deterministic arithmetic-hash vector sample
    * (`vecKeep`/1000) bounds EVERYTHING — the corpus contributes one
    * scan; within the sample, uniformity pairs come from a broadcast
    * NL self-join (the s01 pattern) thinned again per-pair
    * (1/`pairMod`), and alignment pairs from the label equi-join. The
    * report materializes eagerly as its single row (bounded
    * collects). Estimates are sample statistics, exactly reproducible
    * at any partitioning — the honest contract for a metric whose
    * exact form is O(n²). */
  def embeddingQualityReport(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      vecKeep: Long = 400L,
      pairMod: Long = 10L,
      scale: Long = 1000000L): DataFrame = {
    require(vecKeep >= 1 && vecKeep <= 1000,
      s"vecKeep is a per-mille rate in [1,1000], got $vecKeep")
    require(pairMod >= 1 && scale >= 1,
      s"bad params: pairMod=$pairMod scale=$scale")
    val spark = emb.sparkSession
    import spark.implicits._
    val s = emb
      .filter(pmod(col(idCol).cast("long") * 1103515245L + 12345L,
        lit(1000L)) < vecKeep)
      .select(col(idCol).cast("long").as("__id"),
        col(labelCol).cast("long").as("__l"),
        transform(col(vecCol).cast("array<double>"),
          x => round(x * scale, 0).cast("long")).as("__q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = s.count()
      def d2q(a: Column, b: Column) =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x)
      val a = s.select(col("__id").as("__ia"), col("__l").as("__la"),
        col("__q").as("__qa"))
      val b = s.select(col("__id").as("__ib"), col("__l").as("__lb"),
        col("__q").as("__qb"))
      val sq = lit(scale).cast("double") * lit(scale).cast("double")
      val uni = broadcast(a)
        .join(b, col("__ia") < col("__ib")) // broadcast NL, the s01 pattern
        .filter(pmod(col("__ia") * 31L + col("__ib"), lit(pairMod)) === 0L)
        .select(round(
          exp(lit(-2.0) * (d2q(col("__qa"), col("__qb")).cast("double") / sq))
            * 1000000000.0, 0).cast("long").as("__e"))
        .agg(count(lit(1)).as("__np"),
          coalesce(sum(col("__e")), lit(0L)).as("__se"))
        .collect()(0)
      val ali = a
        .join(b, col("__la") === col("__lb") && col("__ia") < col("__ib"))
        .select(d2q(col("__qa"), col("__qb")).as("__d"))
        .agg(count(lit(1)).as("__na"),
          coalesce(sum(col("__d")), lit(0L)).as("__sd"))
        .collect()(0)
      Seq((n, ali.getLong(0), uni.getLong(0),
        ali.getLong(1), uni.getLong(1)))
        .toDF("sampled_vectors", "align_pairs", "uniform_pairs",
          "__sd", "__se")
        .select(col("sampled_vectors"), col("align_pairs"),
          col("uniform_pairs"),
          round(col("__sd").cast("double") /
            nullif(col("align_pairs").cast("double"), lit(0.0)) /
            (lit(scale).cast("double") * lit(scale).cast("double")), 6)
            .as("alignment"),
          round(log(col("__se").cast("double") /
            nullif(col("uniform_pairs").cast("double"), lit(0.0)) /
            lit(1000000000.0)), 6).as("uniformity"))
    } finally {
      s.unpersist(blocking = false)
      ()
    }
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    * per query, greedily pick `k` of the `poolSize` nearest candidates
    * maximizing λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s) — the
    * diversity-aware top-k every retrieval-augmented pipeline puts
    * between ANN and the context window (pure top-k returns k near
    * duplicates of the best hit; MMR spends the same k on coverage).
    *
    * Determinism: sims quantize to longs (round6 × scale), λ is the
    * rational lambdaNum/lambdaDen, so the objective is the INTEGER
    * lambdaNum·simq − (lambdaDen−lambdaNum)·penalty with ties broken
    * on candidate id — bit-exact at any partitioning (the s20 oracle
    * unrolls the k rounds in SQL).
    *
    * Scale shape: the candidate pool is |Q|·poolSize rows and the
    * pairwise-sim relation |Q|·poolSize² — QUERY-bounded, never
    * corpus-bounded; the corpus is touched once (the pool build) plus
    * one id-keyed join to attach candidate vectors. Each greedy round
    * is one keyed tally + one per-query WindowGroupLimit argmax over
    * those bounded relations, lineage-cut per round. Pass `pool` to
    * re-rank an ANN shortlist instead (ivfKnn/ivfPqKnn output):
    * brute-force pooling is the oracle gate, not the 100 TB path. */
  def mmrRerank(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      poolSize: Int,
      lambdaNum: Long = 70,
      lambdaDen: Long = 100,
      scale: Long = 1000000L,
      pool: Option[DataFrame] = None,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    require(k >= 1 && poolSize >= k,
      s"pool $poolSize must cover k=$k")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"lambda must be a rational in [0,1]: $lambdaNum/$lambdaDen")
    require(scale > 0, s"scale must be positive, got $scale")
    import org.apache.spark.storage.StorageLevel
    val rawPool = pool.getOrElse(
      bruteForceKnn(corpus, queries, idCol, vecCol, poolSize))
    val cand = rawPool.select(
      col("query_id"), col("neighbor_id").as("cid"),
      round(col("cosine") * scale, 0).cast("long").as("simq"))
    val vecs = corpus.select(col(idCol).as("cid"), col(vecCol).as("__v"))
    val pv = cand.join(vecs, Seq("cid"))
      .select(col("query_id"), col("cid"), col("simq"), col("__v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = pv.select(col("query_id"), col("cid").as("a"), col("__v").as("__va"))
      .join(pv.select(col("query_id"), col("cid").as("b"), col("__v").as("__vb")),
        Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(round(cosine(col("__va"), col("__vb")), 6) * scale, 0)
          .cast("long").as("s"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val penaltyNum = lambdaDen - lambdaNum
      var sel: DataFrame = null
      for (r <- 1 to k) {
        val scored =
          if (r == 1)
            pv.select(col("query_id"), col("cid"),
              (lit(lambdaNum) * col("simq")).as("__score"))
          else {
            val pen = pairs
              .join(sel.select(col("query_id"), col("cid").as("b")),
                Seq("query_id", "b"))
              .groupBy(col("query_id"), col("a"))
              .agg(max(col("s")).as("__pen"))
              .select(col("query_id"), col("a").as("cid"), col("__pen"))
            pv.select(col("query_id"), col("cid"), col("simq"))
              .join(sel.select(col("query_id"), col("cid")),
                Seq("query_id", "cid"), "left_anti")
              .join(pen, Seq("query_id", "cid"), "left")
              .select(col("query_id"), col("cid"),
                (lit(lambdaNum) * col("simq") -
                  lit(penaltyNum) * coalesce(col("__pen"), lit(0L)))
                  .as("__score"))
          }
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("__score").desc, col("cid").asc)
        val pick = scored
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("query_id"), col("cid"),
            lit(r).as("rank"), col("__score").as("mmr_q"))
        // selections are |Q|·r rows but re-read thrice per round: cut
        // the union lineage or the plan doubles per round (CC lesson)
        sel = checkpointer.cut(
          if (r == 1) pick else sel.union(pick), eager = true)
      }
      sel.select(col("query_id"), col("rank"),
        col("cid").as("neighbor_id"), col("mmr_q"))
    } finally {
      pairs.unpersist(blocking = false)
      pv.unpersist(blocking = false)
      ()
    }
  }
}
