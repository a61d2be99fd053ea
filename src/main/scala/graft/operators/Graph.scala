package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link analysis over edge lists: PageRank in QUANTIZED integer space.
  *
  * Web-corpus curation uses link centrality as a quality prior (the
  * original PageRank use), and a reproducible pipeline stage needs the
  * same ranks on every run, partitioning, and engine — so, like
  * [[Clustering]], every step is exact integer arithmetic: ranks are
  * longs scaled by `scale`, per-edge contributions are integer
  * divisions, damping is an integer multiply-then-divide. Truncating
  * division is identical in Spark (`div`) and DuckDB (`//`) for the
  * non-negative operands here, so iterations replay bit-for-bit in the
  * oracle.
  *
  * Semantics per iteration (rank mass normalized to N×scale):
  *   contrib(v) = Σ_{u→v} r(u) div outdeg(u)
  *   dangling   = Σ_{outdeg(u)=0} r(u)      (redistributed uniformly)
  *   r'(v)      = (den−num)×scale div den
  *              + num×(contrib(v) + dangling div N) div den
  *
  * Scale shape per iteration — the Pregel-style contract:
  *   - one (node) equi-join of ranks onto the out-degree-annotated edge
  *     list and one (dst) keyed aggregation of long scalars (map-side
  *     partial sums; vertex data never rides edges more than once);
  *   - the dangling mass is an anti-join aggregate folded INTO the
  *     round's plan as a broadcast single-row crossJoin (the HITS
  *     normalizer treatment) — a round is ONE driver action, the
  *     lineage cut, with no mid-round collect serializing the
  *     iteration on driver round-trips;
  *   - the loop INPUTS — the distinct edge list, out-degrees, the
  *     degree-annotated edges, the node set — are `persist`ed before
  *     the first round and released after the last: `distinct()` and
  *     `groupBy` are shuffles, and each round issues a fresh action
  *     (the lineage cut, whose plan consumes them twice — dangling
  *     branch and contribution branch) that would otherwise
  *     re-execute them from the source every iteration;
  *   - ranks are lineage-cut each round via `checkpointer`
  *     ([[Checkpoint.local]] by default; pass [[Checkpoint.reliable]]
  *     with `spark.sparkContext.setCheckpointDir` at durable storage
  *     when executor loss must be survivable mid-run — ranks are
  *     corpus-sized, unlike k-means' k centroids, so they cannot land
  *     on the driver).
  */
object Graph {

  /** (node, pr) after `iters` damped PageRank rounds over the distinct
    * directed edges in `edges`. Node ids must be non-negative longs;
    * disambiguate multi-entity graphs (e.g. customer vs supplier keys)
    * by tagging ids before the call. */
  def pagerankQuantized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000L,
      dampNum: Long = 85,
      dampDen: Long = 100,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampDen > 0 && scale > 0,
      s"bad pagerank params: iters=$iters damp=$dampNum/$dampDen scale=$scale")
    // e persists too (the HITS discipline): nodes consumes it twice and
    // outdeg/ew once each, so an un-persisted e re-executes the caller's
    // whole edge-derivation pipeline (often a join/window cascade — g16's
    // is a session wedge join) up to five times during setup
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ew = e.join(outdeg, Seq("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val teleport = (dampDen - dampNum) * scale / dampDen
      // the node count is ALSO plan-folded (round 16, guide §5): the
      // former pre-loop nodes.count() was the last driver action in the
      // operator — one extra barrier plus a full node-set pass before
      // round 1. The count rides the dangling broadcast as a second
      // single-row column; the `when` guards the empty graph (whose
      // result relation is empty either way, so rounds over it are
      // no-ops, not errors — the old n == 0 early-out preserved).
      val nRel = nodes.agg(count(lit(1)).as("__nn"))

      var ranks = nodes.withColumn("pr", lit(scale))
      for (_ <- 0 until iters) {
        // dangling mass folded INTO the round's plan as a broadcast
        // single-row crossJoin (the HITS normalizer treatment): a round
        // is ONE driver action (the lineage cut), not a collect + a cut
        // — on a real cluster the driver round-trip between them
        // serializes the iteration. `div` here equals the former
        // driver-side Scala `/` (both operands non-negative).
        val danglingDivN = ranks
          .join(outdeg, ranks("node") === outdeg("src"), "left_anti")
          .agg(coalesce(sum(col("pr")), lit(0L)).as("__dsum"))
          .crossJoin(broadcast(nRel))
          .select(when(col("__nn") === 0L, lit(0L))
            .otherwise(expr("__dsum div __nn")).as("__dpn"))
        val contribs = ew.join(ranks, ew("src") === ranks("node"))
          .select(col("dst"), expr("pr div odeg").as("__c"))
          .groupBy(col("dst")).agg(sum(col("__c")).as("__c"))
        ranks = checkpointer.cut(
          nodes
            .join(contribs, nodes("node") === contribs("dst"), "left")
            .crossJoin(broadcast(danglingDivN))
            .select(col("node"),
              (lit(teleport) +
                expr(s"$dampNum * (coalesce(__c, 0L) + __dpn) div $dampDen")
              ).as("pr")),
          eager = true)
      }
      ranks
    } finally {
      // every round is eagerly cut, so the result no longer references
      // these caches; iters=0 recomputes its (cheap) node relation
      ew.unpersist(blocking = false)
      outdeg.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      e.unpersist(blocking = false)
      ()
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999) in the same quantized
    * integer space: hubs point AT quality, authorities ARE pointed at —
    * on a curation graph (site → document, citing → cited) the two
    * scores separate good CURATORS from good CONTENT, the signal pair
    * PageRank's single score conflates. Per round (max-normalized HITS,
    * the integer-friendly variant — determinism is the contract, and
    * normalizing by the max keeps every score in [0, scale]):
    *
    *   auth'(v) = (Σ_{u→v} hub(u)) × scale div max_v(Σ hub)
    *   hub'(u)  = (Σ_{u→v} auth'(v)) × scale div max_u(Σ auth')
    *
    * All sums are exact longs, both divisions truncate identically in
    * Spark (`div`) and DuckDB (`//`), so every round replays
    * bit-for-bit in the oracle. Nodes with no in-edges score auth 0,
    * no out-edges hub 0 — exact zeros, usable as selection predicates.
    *
    * Scale shape per round: two edge-keyed joins + two keyed long
    * aggregations (map-side partials; scores never ride an edge more
    * than once per direction). The max normalizers are folded INTO the
    * plan as broadcast single-row crossJoins — a round is ONE action
    * (the lineage cut), not three (no driver max-collects) — and each
    * half-round's raw-sum relation is `persist`ed for the round because
    * both its max branch and its join branch consume it. The distinct
    * edge list and node set persist across the loop exactly as in
    * [[pagerankQuantized]]. Overflow headroom: scores ≤ scale, so a
    * round's raw sum ≤ degree×scale and the scaled product needs
    * degree×scale² < 2^63 — at the default 10^6 scale that is a 9×10^6
    * max in-degree; renormalizing each half-round keeps it there. */
  def hitsQuantized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000L,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    require(iters >= 0 && scale > 0, s"bad hits params: iters=$iters scale=$scale")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var scores = nodes
        .select(col("node"), lit(scale).as("hub"), lit(0L).as("auth"))
      for (_ <- 0 until iters) {
        val authRaw = e.join(scores, e("src") === scores("node"))
          .groupBy(col("dst")).agg(sum(col("hub")).as("__a"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val maxA = authRaw.agg(coalesce(max(col("__a")), lit(0L)).as("__ma"))
        val auth = nodes
          .join(authRaw, nodes("node") === authRaw("dst"), "left")
          .crossJoin(broadcast(maxA))
          .select(col("node"),
            when(col("__ma") === 0L, lit(0L))
              .otherwise(expr(s"coalesce(__a, 0L) * ${scale}L div __ma")).as("auth"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val hubRaw = e.join(auth, e("dst") === auth("node"))
          .groupBy(col("src")).agg(sum(col("auth")).as("__h"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val maxH = hubRaw.agg(coalesce(max(col("__h")), lit(0L)).as("__mh"))
        scores = checkpointer.cut(
          nodes
            .join(hubRaw, nodes("node") === hubRaw("src"), "left")
            .crossJoin(broadcast(maxH))
            .select(col("node"),
              when(col("__mh") === 0L, lit(0L))
                .otherwise(expr(s"coalesce(__h, 0L) * ${scale}L div __mh")).as("hub"))
            .join(auth, Seq("node"))
            .select(col("node"), col("hub"), col("auth")),
          eager = true)
        hubRaw.unpersist(blocking = false)
        auth.unpersist(blocking = false)
        authRaw.unpersist(blocking = false)
      }
      scores
    } finally {
      nodes.unpersist(blocking = false)
      e.unpersist(blocking = false)
      ()
    }
  }

  /** PERSONALIZED PageRank (Haveliwala 2002): teleport and dangling
    * mass return ONLY to the seed set, so rank measures proximity to
    * the seeds rather than global centrality — the seed-expansion
    * primitive corpus curation uses to propagate trust/quality from a
    * small vetted set (domains, documents, suppliers) across a link
    * graph. Same quantized integer semantics as [[pagerankQuantized]]
    * (bit-for-bit oracle replays), initial mass `scale` on each seed
    * and 0 elsewhere; per iteration
    *   r'(v) = [v∈S]×teleport + num×(contrib(v) + [v∈S]×(dangling div
    *   |S|)) div den.
    * Non-seed nodes with no inbound path to a seed stay exactly 0 —
    * the property that makes the output a selection signal. Scale
    * shape identical to [[pagerankQuantized]], including the persisted
    * loop inputs (seed-flagged nodes, out-degrees, annotated edges)
    * and the per-round `checkpointer` cut: one node-keyed join and one
    * dst-keyed long aggregation per iteration, the seed flag rides the
    * node relation, dangling mass is a plan-folded broadcast scalar. */
  def personalizedPagerankQuantized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iters: Int,
      scale: Long = 1000000L,
      dampNum: Long = 85,
      dampDen: Long = 100,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampDen > 0 && scale > 0,
      s"bad ppr params: iters=$iters damp=$dampNum/$dampDen scale=$scale")
    // e persists (the pagerankQuantized discipline): nodes consumes it
    // twice and outdeg/ew once each, so an un-persisted e re-executes
    // the caller's edge pipeline for each consumer in the setup phase
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seedSet = seeds.select(col(seedCol).cast("long").as("node")).distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(seedSet.select(col("node"))).distinct()
      .join(seedSet.withColumn("__s", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("__s"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ew = e.join(outdeg, Seq("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nSeeds = seedSet.count()
      require(nSeeds > 0, "personalized pagerank needs a non-empty seed set")
      val teleport = (dampDen - dampNum) * scale / dampDen

      var ranks = nodes.select(col("node"), (col("__s") * scale).as("pr"))
      for (_ <- 0 until iters) {
        // dangling mass plan-folded as in [[pagerankQuantized]]: one
        // driver action per round, `div` = the former Scala `/` on the
        // non-negative operands
        val danglingDivS = ranks
          .join(outdeg, ranks("node") === outdeg("src"), "left_anti")
          .agg(expr(s"coalesce(sum(pr), 0L) div ${nSeeds}L").as("__dps"))
        val contribs = ew.join(ranks, ew("src") === ranks("node"))
          .select(col("dst"), expr("pr div odeg").as("__c"))
          .groupBy(col("dst")).agg(sum(col("__c")).as("__c"))
        ranks = checkpointer.cut(
          nodes
            .join(contribs, nodes("node") === contribs("dst"), "left")
            .crossJoin(broadcast(danglingDivS))
            .select(col("node"),
              (col("__s") * teleport +
                expr(s"$dampNum * (coalesce(__c, 0L) + __s * __dps) div $dampDen")
              ).as("pr")),
          eager = true)
      }
      ranks
    } finally {
      ew.unpersist(blocking = false)
      outdeg.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      e.unpersist(blocking = false)
      ()
    }
  }

  /** Semi-supervised LABEL PROPAGATION (Zhu & Ghahramani 2002) over a
    * weighted directed graph — the auto-labeling primitive: a small
    * vetted label set (human-rated quality tiers, verified topics,
    * license classes) spreads to the whole corpus along a similarity
    * graph, typically the kNN graph of an embedding column (build the
    * edges with any [[Similarity]] kNN face — exact brute force here in
    * tests, IVF/PQ at scale; the operator only sees the edge list, so
    * the two compose freely).
    *
    * Synchronous rounds; weights are PRE-QUANTIZED longs (quantize the
    * similarity to integer space — e.g. `round(cosine*1e6)` — before
    * the call), so each vote tally is an exact long sum: associative,
    * partitioning-independent, bit-identical in the DuckDB oracle
    * replay. Per round, every non-seed node adopts the label with the
    * largest summed weight over its currently-labeled out-neighbors
    * (ties broken by the smaller label); seeds never change; a node
    * with no labeled neighbor keeps its previous state, so labels only
    * ever GROW outward from the seed set and unreached nodes surface as
    * NULL — a selection signal, like g02's exact zeros.
    *
    * Scale shape per round (Pregel contract, like [[pagerankQuantized]]):
    * one (dst) equi-join of the label state onto the edge list, one
    * (src, label) keyed long aggregation (map-side partials), and one
    * per-src WindowGroupLimit argmax — label state is (node, label)
    * scalars, vectors never ride edges; `checkpointer` cuts the
    * doubling lineage each round ([[Checkpoint.reliable]] at durable
    * storage on a real cluster). */
  def labelPropagationQuantized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      seeds: DataFrame,
      nodeCol: String,
      labelCol: String,
      iters: Int,
      seedsImmutable: Boolean = true,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    require(iters >= 0, s"bad label propagation params: iters=$iters")
    // The edge list is re-joined every round and is often EXPENSIVE to
    // derive (a kNN build) — materialize it once, like the
    // pagerank/HITS loop inputs.
    val e = edges.select(
      col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(weightCol).cast("long").as("w"))
      // pre-partition on the per-round join key (round 15, guide §2.4):
      // the caller's edge relation carries arbitrary partitioning, so
      // every vote round would re-shuffle the full edge list by `dst`;
      // cached on hash(dst) only the labeled state moves per round
      .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions,
        col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seedLabels = seeds.select(
      col(nodeCol).cast("long").as("node"),
      col(labelCol).cast("long").as("label"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(seedLabels.select(col("node"))).distinct()
    var state = checkpointer.cut(
      nodes
        .join(seedLabels, Seq("node"), "left")
        .select(col("node"), col("label"),
          col("label").isNotNull.as("__seed")),
      eager = true)
    for (_ <- 0 until iters) {
      val labeled = state.filter(col("label").isNotNull)
        .select(col("node").as("__ln"), col("label").as("__l"))
      val best = e.join(labeled, e("dst") === col("__ln"))
        .groupBy(col("src"), col("__l")).agg(sum(col("w")).as("__sc"))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("src"))
            .orderBy(col("__sc").desc, col("__l").asc)))
        .filter(col("__rn") === 1)
        .select(col("src").as("__bn"), col("__l").as("__bl"))
      state = checkpointer.cut(
        state
          .join(best, state("node") === col("__bn"), "left")
          .select(col("node"),
            (if (seedsImmutable)
               when(col("__seed"), col("label"))
                 .otherwise(coalesce(col("__bl"), col("label")))
             else coalesce(col("__bl"), col("label"))).as("label"),
            col("__seed")),
        eager = true)
    }
    e.unpersist()
    state.select(col("node"), col("label"))
  }

  /** UNSUPERVISED community detection by label propagation (Raghavan
    * et al. 2007), the unseeded face of [[labelPropagationQuantized]]:
    * every node starts as its own community (label = node id) and
    * synchronously adopts the weighted-majority label of its
    * out-neighbors each round — dense regions collapse onto one label,
    * the clustering that groups near-duplicate domains, topic pockets,
    * or co-purchase communities without any labeled set. Deterministic
    * by the same discipline (quantized long tallies, smaller-label
    * ties, fixed round count — synchronous LPA oscillation is settled
    * by the round budget, not by chance), so the unrolled-CTE oracle
    * replays bit-for-bit. Scale shape identical to the seeded face. */
  def communityLabelsQuantized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iters: Int,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    val e = edges.select(
      col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    labelPropagationQuantized(
      edges, srcCol, dstCol, weightCol,
      seeds = nodes.select(col("node"), col("node").as("label")),
      nodeCol = "node", labelCol = "label", iters = iters,
      seedsImmutable = false,
      checkpointer = checkpointer)
  }

  /** TRIANGLE counting + local clustering coefficients — the graph-
    * density diagnostic for similarity/link graphs: near-duplicate
    * neighborhoods and template farms show up as high-clustering
    * pockets, link spam as dense cliques, and the global coefficient
    * is the one-number summary of how "clumpy" a kNN graph is. Input
    * is ANY directed edge list; edges are undirected/deduped first
    * (self-loops dropped).
    *
    * The algorithm is the degree-ordered node-iterator (the
    * MapReduce-classic Suri & Vassilvitskii 2011 shape): orient every
    * undirected edge from its lower to its higher endpoint under the
    * TOTAL order (degree, id); each triangle then has exactly ONE
    * node with out-edges to the other two, so wedges (u→v, u→w with
    * v before w in the same order) joined against the oriented edge
    * (v→w) count each triangle exactly once. The orientation bounds
    * every out-degree by O(√m) REGARDLESS of hub skew — the wedge
    * self-join that explodes on a raw adjacency stays polynomial on
    * a power-law web graph. No windows, no driver iteration: two
    * keyed aggregations (degrees, per-node triangle tally), one
    * self-join, one LEFT SEMI probe.
    *
    * Returns (node, degree, triangles, lcc) where lcc = 2·t/(d·(d−1))
    * rounded to 6 (0.0 when degree < 2) — exact integer counts, so
    * partitioning-independent and oracle-replayable. */
  /** k-CORE peeling — the density filter over a link/similarity graph:
    * repeatedly delete nodes with fewer than `k` surviving neighbors;
    * what remains (the k-core) is the maximal subgraph of minimum
    * degree k. Membership is a standard structural quality/spam
    * signal: link farms live in dense cores, isolated boilerplate
    * falls out in round one. Runs `iters` SYNCHRONOUS peel rounds —
    * peeling is monotone (each round's survivor set only shrinks) and
    * CONFLUENT, so a fixed round budget is deterministic, extra
    * rounds past the fixpoint are no-ops, and the oracle unrolls the
    * same rounds as CTE pairs. `converged` reports whether round
    * `iters` removed nobody (the fixpoint certificate; if false, the
    * survivor set is a SUPERSET of the true k-core — raise `iters`).
    *
    * Scale shape per round (the g01 Pregel contract): one degree
    * aggregation + two node-keyed LEFT SEMI joins restricting the
    * edge list; state is (node) scalars, `checkpointer` cuts the
    * doubling lineage each round. Output: every original node with
    * its starting degree, final membership, and surviving degree. */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      iters: Int,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val und = edges
      .select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      def degrees(e: DataFrame): DataFrame = e
        .select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      // materialized: the returned plan must not re-derive the edge
      // distinct after the finally-block unpersists `und`
      val deg0 = checkpointer.cut(degrees(und), eager = true)
      var e = und
      var removedLast = 0L
      // carry the previous round's edge count forward: each relation is
      // counted ONCE (round 15 — the old shape re-counted the previous
      // cut every round, two actions where one suffices)
      var eCount = und.count()
      for (_ <- 0 until iters) {
        val keep = degrees(e).filter(col("degree") >= k).select(col("node"))
        val next = checkpointer.cut(
          e.join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
            .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
            .select(col("a"), col("b")),
          eager = true)
        val nextCount = next.count()
        removedLast = eCount - nextCount
        e = next
        eCount = nextCount
      }
      val finalDeg = degrees(e)
      val out = deg0
        .join(finalDeg.select(col("node"), col("degree").as("__cd")),
          Seq("node"), "left")
        .select(
          col("node"), col("degree"),
          (coalesce(col("__cd"), lit(0L)) >= k).as("in_core"),
          coalesce(col("__cd"), lit(0L)).as("core_degree"),
          lit(removedLast == 0L).as("converged"))
      out
    } finally {
      und.unpersist(blocking = false)
      ()
    }
  }

  /** LINK PREDICTION by neighborhood overlap — score non-adjacent node
    * pairs at distance 2 by common-neighbor statistics: CN (count),
    * Adamic-Adar (Σ 1/ln(deg z) over shared neighbors z — rare shared
    * neighbors weigh more), and neighborhood Jaccard. The
    * recommendation/graph-completion primitive: "users also bought",
    * related-document suggestions over a kNN graph, knowledge-graph
    * edge proposals. Top-k candidates per source node.
    *
    * Determinism: Adamic-Adar accumulates PER-NEIGHBOR quantized longs
    * (round(1e9/ln(deg z))) — the sum is associative and the oracle
    * replays it bit-for-bit (t12's round-over-libm-ulp contract for
    * the single ln per neighbor). Candidates rank by (aa, cn, id) —
    * a total order.
    *
    * Scale shape: wedge generation through the shared neighbor z is
    * one (z)-keyed self-join of the adjacency list — each wedge
    * materializes once (x < y) — followed by one (x, y) aggregation,
    * an existing-edge anti-join, two degree joins, and a per-source
    * WindowGroupLimit. Wedge count is Σ deg(z)², the same budget any
    * neighborhood-overlap method pays; on a kNN graph degrees are
    * ~2k-bounded so the join is linear in corpus size. For power-law
    * graphs, cap hub degrees upstream (the LSH maxBucket discipline). */
  def linkPrediction(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val und = edges
      .select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val adj = und.select(col("a").as("z"), col("b").as("x"))
      .unionByName(und.select(col("b").as("z"), col("a").as("x")))
      .join(deg.select(col("node").as("z"), col("degree").as("__dz")), Seq("z"))
      // deg-1 neighbors can never anchor a wedge (one adjacency row),
      // but their weight still EVALUATES pre-join — guard ln(1) = 0
      .withColumn("__w",
        when(col("__dz") >= 2L,
          round(lit(1.0e9) / log(col("__dz").cast("double")), 0).cast("long"))
          .otherwise(lit(0L)))
    val wedges = adj.select(col("z"), col("x"), col("__w"))
      .join(adj.select(col("z"), col("x").as("y")), Seq("z"))
      .filter(col("x") < col("y"))
    val pairs = wedges
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cn"), sum(col("__w")).as("__aaq"))
      .join(und.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
      .join(deg.select(col("node").as("x"), col("degree").as("__dx")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("degree").as("__dy")), Seq("y"))
    pairs
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("x"))
          .orderBy(col("__aaq").desc, col("cn").desc, col("y").asc)))
      .filter(col("rank") <= k)
      .select(
        col("x").as("src_id"), col("rank"), col("y").as("cand_id"),
        col("cn"),
        round(col("__aaq").cast("double") / 1.0e9, 6).as("aa"),
        round(col("cn").cast("double") /
          (col("__dx") + col("__dy") - col("cn")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Bipartite co-engagement projection — build the item–item graph
    * from a (user, item) interaction log: edge (i, j) weighted by the
    * number of DISTINCT users who interacted with both. This is how
    * production pipelines manufacture the edge lists the rest of this
    * file consumes (related-items graphs, co-citation, co-click) when
    * no explicit graph exists.
    *
    * Skew control is the whole design: a user with d items yields
    * C(d, 2) wedges, so one crawler/bot with 10⁶ items would emit
    * 5·10¹¹ pairs. `maxPerUser` caps every user's contribution at
    * C(cap, 2) BEFORE the self-join — the cap keeps each user's
    * lowest item ids (a deterministic, partitioning-free rule), the
    * standard practice for co-occurrence at corpus scale. With the cap
    * the wedge stage is O(users · cap²), embarrassingly partitioned by
    * user, and the (i, j) tally has map-side partial counts.
    *
    * `minSupport` prunes the long noise tail (weight-1 pairs dominate
    * real logs) before the result ever materializes. All counts are
    * exact longs. Shape: one distinct + one per-user WindowGroupLimit
    * + one user-keyed self-join + one (i, j) aggregation. */
  def cooccurrenceEdges(
      interactions: DataFrame,
      userCol: String,
      itemCol: String,
      maxPerUser: Int = 64,
      minSupport: Long = 1L): DataFrame = {
    require(maxPerUser >= 2, s"maxPerUser must be >= 2, got $maxPerUser")
    require(minSupport >= 1L, s"minSupport must be >= 1, got $minSupport")
    // The null-item filter runs ABOVE the cap window, not below the
    // distinct (round 16): below, Catalyst pushes it to the SCAN and
    // inlines the caller's item derivation (g16: a JSON extraction) at
    // scan width. Exact equivalence: distinct leaves at most ONE null
    // item per user, the window orders nulls LAST so real items keep
    // their ranks, and the isNotNull above the window drops the null
    // row wherever it ranked. The user-side isNotNull still pushes
    // through the window's partition key — that cast is cheap.
    val ui = interactions
      .select(
        col(userCol).cast("long").as("__u"),
        col(itemCol).cast("long").as("__i"))
      .distinct()
    val capped = ui
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__u")).orderBy(col("__i").asc_nulls_last)))
      .filter(col("__rn") <= maxPerUser &&
        col("__u").isNotNull && col("__i").isNotNull)
      .select(col("__u"), col("__i"))
    capped
      .join(capped.select(col("__u"), col("__i").as("__j")), Seq("__u"))
      .filter(col("__i") < col("__j"))
      .groupBy(col("__i").as("item_a"), col("__j").as("item_b"))
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minSupport)
  }

  private def uiDistinct(
      interactions: DataFrame, userCol: String, itemCol: String): DataFrame =
    interactions
      .select(
        col(userCol).cast("long").as("__u"),
        col(itemCol).cast("long").as("__i"))
      .filter(col("__u").isNotNull && col("__i").isNotNull)
      .distinct()

  private def pairDeltas(newUi: DataFrame, oldUi: DataFrame): DataFrame = {
    // each (user, unordered item pair) contributes EXACTLY once over
    // the user's lifetime: when its later item first arrives. New-old
    // wedges pair arrivals with the existing profile; new-new wedges
    // (i < j) cover pairs born inside one batch.
    val newOld = newUi
      .join(oldUi.select(col("__u"), col("__i").as("__j")), Seq("__u"))
    val newNew = newUi
      .join(newUi.select(col("__u"), col("__i").as("__j")), Seq("__u"))
      .filter(col("__i") < col("__j"))
    newOld.unionByName(newNew)
      .select(
        least(col("__i"), col("__j")).as("a"),
        greatest(col("__i"), col("__j")).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w"))
  }

  /** Both orientations of the (a, b, w) pair deltas — the stored
    * layout, so a probe on ANY item hits only its own buckets. */
  private def orient(pairs: DataFrame): DataFrame =
    pairs.select(col("a").as("item"), col("b").as("other"), col("w"))
      .unionByName(
        pairs.select(col("b").as("item"), col("a").as("other"), col("w")))

  /** PERSISTED co-occurrence index — the related-items serving face of
    * [[cooccurrenceEdges]], in the same lifecycle discipline as the
    * dedup/IVF/span/LM indexes: two bucketed tables,
    * `<table>_profile` (user, item — the distinct interaction sets
    * appends dedup against; bucketed by user) and `<table>_pairs`
    * (item, other, w in BOTH orientations; bucketed by item so probes
    * prune to their own buckets). Pair weights are ADDITIVE deltas:
    * each (user, unordered pair) contributes exactly once — when its
    * later item first arrives — so sums over any batch split equal the
    * one-shot build (append ≡ rebuild as an abelian-group identity,
    * the LM-index argument; pinned in BucketingSpec). Per append, only
    * the batch's new (user, item) rows and their wedges shuffle; the
    * wedge join prunes the profile to TOUCHED users first.
    *
    * Like the LM index (and unlike the hash-membership dedup/IVF/span
    * families), this index deliberately has NO at-least-once streaming
    * ingest sink: additive counts are not replay-idempotent — a
    * half-appended batch replayed by `foreachBatch` would double its
    * deltas, where the membership indexes merely collapse duplicates.
    * Continual ingest drives [[appendCooccurrence]] from a
    * batch pipeline whose step boundaries are exactly-once (the
    * single-writer contract all appends here share); purge is the
    * negated-delta append, the p23 group-theoretic pattern. */
  def writeCooccurrenceIndex(
      spark: SparkSession,
      table: String,
      interactions: DataFrame,
      userCol: String,
      itemCol: String,
      numBuckets: Int = 8): Unit = {
    val ui = uiDistinct(interactions, userCol, itemCol)
    Bucketing.writeBucketed(numBuckets,
      Bucketing.Target(ui, s"${table}_profile", Seq("__u")),
      Bucketing.Target(orient(pairDeltas(ui, ui.limit(0))), s"${table}_pairs", Seq("item")))
  }

  /** Append a batch of interactions to a [[writeCooccurrenceIndex]] —
    * batch-proportional: the profile is pruned to the batch's users
    * (broadcast LEFT SEMI) before the already-present anti-join and
    * the wedge join; pair deltas append additively, never rewriting
    * existing rows. Single-writer, ids assumed stable. */
  def appendCooccurrence(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      userCol: String,
      itemCol: String,
      numBuckets: Int = 8): Unit = {
    val b = uiDistinct(batch, userCol, itemCol)
    val touched = spark.table(s"${table}_profile")
      .join(broadcast(b.select(col("__u")).distinct()), Seq("__u"), "left_semi")
    val newUi = b.join(touched, Seq("__u", "__i"), "left_anti")
    Bucketing.appendBucketed(
      orient(pairDeltas(newUi, touched)),
      s"${table}_pairs", Seq("item"), numBuckets)
    Bucketing.appendBucketed(newUi, s"${table}_profile", Seq("__u"), numBuckets)
  }

  /** PURGE users from a persisted co-occurrence index — the takedown
    * half: the purged users' pair contributions leave as NEGATED
    * deltas (the LM-index group-theoretic purge — no survivor rewrite
    * of the pairs table; a fully-purged pair's NET weight goes to
    * zero and [[probeCoItems]] drops it at read), and their
    * (user, item) profile rows — the personal data — are rewritten
    * away, so a returning user re-forms pairs from scratch.
    * Purge ≡ rebuild over survivors, pinned in BucketingSpec. */
  def purgeCooccurrence(
      spark: SparkSession,
      table: String,
      purgeUsers: DataFrame,
      numBuckets: Int = 8): Unit = {
    val us = purgeUsers
      .select(col(purgeUsers.columns.head).cast("long").as("__u")).distinct()
    val prof = spark.table(s"${table}_profile")
    val gone = prof.join(broadcast(us), Seq("__u"), "left_semi")
    Bucketing.appendBucketed(
      orient(pairDeltas(gone, gone.limit(0)))
        .withColumn("w", -col("w")),
      s"${table}_pairs", Seq("item"), numBuckets)
    Bucketing.writeBucketed(
      prof.join(broadcast(us), Seq("__u"), "left_anti"),
      s"${table}_profile", Seq("__u"), numBuckets)
  }

  /** Top-k related items per probe item from the persisted pairs
    * table: appended deltas merge in one bucket-local (item, other)
    * sum — bucketing by `item` means the aggregation needs NO exchange
    * (hash-clustered on a prefix of the grouping key) and the probe
    * filter prunes to the probed items' buckets. Pairs whose net
    * weight is zero (fully purged) drop post-sum. Rank = (weight desc,
    * other asc), a total order. */
  def probeCoItems(
      spark: SparkSession,
      table: String,
      probeItems: DataFrame,
      itemCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    spark.table(s"${table}_pairs")
      .join(broadcast(
        probeItems.select(col(itemCol).cast("long").as("item")).distinct()),
        Seq("item"), "left_semi")
      .groupBy(col("item"), col("other"))
      .agg(sum(col("w")).as("weight"))
      .filter(col("weight") > 0L)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("item"))
          .orderBy(col("weight").desc, col("other").asc)))
      .filter(col("rank") <= k)
  }

  /** 2-hop neighborhood expansion profile — per node: degree, the
    * exact count of distinct nodes within distance ≤ 2, and the
    * expansion ratio reach2/degree. The graph-health diagnostic that
    * separates organically-connected corpora (high expansion) from
    * link farms and boilerplate cliques (neighbors' neighbors are the
    * same nodes — expansion ≈ 1): the distribution of `expansion` is
    * what an ANF/HyperBall analysis reads at radius 2.
    *
    * Scale shape: one (z)-keyed adjacency self-join materializes each
    * 2-path once, then one distinct + one (node) count — the same
    * Σ deg(z)² wedge budget as g06/g07, bounded on kNN graphs and
    * hub-capped upstream on power-law inputs. Exact distinct here is
    * the radius-2 truth; for deeper radii switch to HLL node sketches
    * (the p17 incremental-stats pattern) — frontier joins explode
    * exponentially and approximate counting IS the published method
    * (ANF, Palmer 2002). */
  def neighborhoodProfile(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val adj = und.select(col("a").as("x"), col("b").as("y"))
      .unionByName(und.select(col("b").as("x"), col("a").as("y")))
    val deg = adj.groupBy(col("x")).agg(count(lit(1)).as("degree"))
    // nodes at distance <= 2 (excluding self): neighbors union
    // 2-paths x -> z -> y, deduplicated once
    val paths2 = adj.select(col("x"), col("y").as("__z"))
      .join(adj.select(col("x").as("__z"), col("y")), Seq("__z"))
      .select(col("x"), col("y"))
    val within2 = adj.unionByName(paths2)
      .filter(col("x") =!= col("y"))
      .distinct()
      .groupBy(col("x")).agg(count(lit(1)).as("reach2"))
    deg.join(within2, Seq("x"))
      .select(col("x").as("node"), col("degree"), col("reach2"),
        round(col("reach2").cast("double") / col("degree").cast("double"), 6)
          .as("expansion"))
  }

  /** Approximate Neighborhood Function (Palmer et al. KDD'02 ANF;
    * HyperBall, Boldi–Vigna 2013) — per node, the estimated number of
    * nodes within distance ≤ r for every r in 1..`radius`, carried as
    * 256-byte [[graft.functions.expressions.HllSketch]] registers:
    * ball_r(u) = ball_{r-1}(u) ∪ ⋃_{v∈N(u)} ball_{r-1}(v), and
    * because the registers' elementwise max IS set union, one
    * (node)-keyed [[graft.functions.expressions.HllUnion]] aggregation
    * per radius replaces the frontier join whose output EXPLODES with
    * r (g10's exact reach stops at radius 2 for exactly that reason —
    * its docstring names this operator as the deeper-radius upgrade).
    *
    * Scale shape per round: one (y=node) equi-join of the state onto
    * the adjacency list + one (node) union aggregation with map-side
    * partial merges — E sketch rows shuffle, 256 B each, independent
    * of ball size; total cost is O(radius · E) with NO dependence on
    * reach, versus exact ANF's Θ(Σ|ball_r|) pair materialization.
    * State is nodes × 256 B per round, lineage-cut via `checkpointer`.
    *
    * Determinism: registers are maxima of per-member rho values — a
    * pure function of the exact ball SET, independent of partitioning,
    * merge order, or propagation path (union-of-sketches ≡
    * sketch-of-union, HllSpec), so the estimate replays bit-for-bit
    * in an oracle that computes the exact balls and derives the same
    * registers (g12's gate does exactly this).
    *
    * Returns one row per (node, r): (node, r, degree, anf) where anf
    * estimates |ball_r(node)| INCLUDING the node itself. */
  def anfProfile(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      radius: Int,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    import graft.functions.expressions.{HllEstimate, HllSketch, HllUnion}
    require(radius >= 1 && radius <= 16, s"radius must be in [1,16], got $radius")
    val und = edges
      .select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .distinct()
    // The null/self-loop filter runs ABOVE the cache, not below the
    // distinct (round 16): filtered below, Catalyst pushes it to the
    // SCAN and inlines the caller's edge derivation into every conjunct
    // (g12: the JSON extraction re-ran at scan width — 8 s on 2 tasks
    // at sf1, 60% of the query). Exact equivalence: least/greatest
    // ignore nulls, so a one-sided-null row collapses to a = b and the
    // self-loop test drops it; a both-null row has null keys and
    // x =!= y drops it too. The cache carries the few junk groups;
    // every consumer filters them from the cache scan, where predicate
    // pushdown stops.
    val adjCache = und.select(col("a").as("x"), col("b").as("y"))
      .unionByName(und.select(col("b").as("x"), col("a").as("y")))
      // pre-partition on the per-round join key (round 15, guide §2.4):
      // a union carries no partitioning, so every sketch round would
      // re-shuffle the full adjacency by `y`; cached on hash(y) the
      // layout serves all `radius` rounds — only the (node, sketch)
      // state and the propagation groupBy move per round, the
      // HyperBall minimum
      // sized (round 16): see connectedComponents -- AQE gave the
      // unsized form 2 partitions at sf1 and every sketch round ran
      // its HLL unions on 2 tasks (10 s of g12's 14 s)
      .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions,
        col("y"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val adj = adjCache.filter(col("x") =!= col("y"))
    val deg = adj.groupBy(col("x")).agg(count(lit(1)).as("degree"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ball_0: every node's sketch holds the node itself (the node set
      // is exactly adj's x side — self-loops are filtered, so every
      // node has >= 1 neighbor and the union below always sees it)
      var state = deg.select(col("x").as("node"))
        .groupBy(col("node")).agg(HllSketch(col("node")).as("sk"))
      val rounds = (1 to radius).map { r =>
        val nbr = adj.join(state, adj("y") === state("node"))
          .select(adj("x").as("node"), col("sk"))
        state = checkpointer.cut(
          nbr.unionByName(state.select(col("node"), col("sk")))
            .groupBy(col("node")).agg(HllUnion(col("sk")).as("sk")),
          eager = true)
        state.select(col("node"), lit(r).as("r"),
          HllEstimate(col("sk")).as("anf"))
      }
      checkpointer.cut(
        rounds.reduce(_ unionByName _)
          .join(deg.select(col("x").as("node"), col("degree")), Seq("node"))
          .select(col("node"), col("r"), col("degree"), col("anf")),
        eager = true)
    } finally {
      // rounds are eagerly cut and so is the returned frame, so neither
      // references these caches
      deg.unpersist(blocking = false)
      adjCache.unpersist(blocking = false)
      ()
    }
  }

  /** Harmonic centrality via HyperBall (Boldi–Vigna WebSci'14 §4: the
    * centrality HyperBall exists to compute at web scale) — for each
    * node, hc(u) = Σ_{r=1..radius} (|B(u,r)| − |B(u,r−1)|) / r, i.e.
    * every other node contributes the reciprocal of its distance,
    * truncated at `radius`. Reads the per-(node, r) ball estimates
    * straight off [[anfProfile]] — the propagation cost is identical
    * (O(radius · E) sketch rows, 256 B each) and this adds one (node)
    * pivot aggregation, nothing frontier-shaped.
    *
    * Determinism: |B(u,0)| = 1 EXACTLY (Boldi–Vigna count the singleton
    * ball exactly rather than estimating it), the deeper balls are
    * [[graft.functions.expressions.HllEstimate]]'s 6-dp-quantized
    * doubles — a pure function of the exact ball set — and the
    * telescoping sum is a fixed-shape left-associated IEEE expression
    * over those quantized inputs, so an oracle that derives the same
    * registers from exact balls replays hc bit-for-bit (g13's gate).
    *
    * Returns (node, degree, ball_r at max radius as `reach`, hc),
    * hc > 0 for every node (self-loop-free nodes all have a neighbor). */
  def harmonicCentrality(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      radius: Int,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    val prof = anfProfile(edges, srcCol, dstCol, radius, checkpointer)
    val radii = (1 to radius).map(r =>
      max(when(col("r") === r, col("anf"))).as(s"__a$r"))
    val byNode = prof.groupBy(col("node"))
      .agg(max(col("degree")).as("degree"), radii: _*)
    val hc = (2 to radius).foldLeft(col("__a1") - lit(1.0)) { (acc, r) =>
      acc + (col(s"__a$r") - col(s"__a${r - 1}")) / lit(r.toDouble)
    }
    byNode.select(
      col("node"), col("degree"),
      col(s"__a$radius").as("reach"), hc.as("hc"))
  }

  /** Effective diameter via HyperBall (Boldi & Vigna 2011's headline
    * readout over [[anfProfile]]'s sketches): the smallest radius
    * whose total estimated ball mass reaches `qNum`/`qDen` (default
    * 90%) of the radius-`radius` mass — "most pairs connect within
    * THIS many hops", the one-number connectivity summary.
    *
    * Per-node estimates are already on the 1e-6 grid (the g12
    * contract), so they re-quantize to longs before summation — long
    * sums are associative; double sums are not — and the comparison
    * qDen·S_r ≥ qNum·S_R is pure integer. The per-radius totals are a
    * ≤radius-row relation (bounded collect); output one row:
    * (eff_radius, reach_fraction, avg_ball). NULL radius when the
    * graph is empty. */
  def effectiveDiameter(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      radius: Int,
      qNum: Long = 90,
      qDen: Long = 100,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    require(qNum >= 1 && qNum <= qDen,
      s"quantile must be a rational in (0,1]: $qNum/$qDen")
    val spark = edges.sparkSession
    import spark.implicits._
    val sums = anfProfile(edges, srcCol, dstCol, radius, checkpointer)
      .groupBy(col("r"))
      .agg(sum(round(col("anf") * 1000000.0, 0).cast("long")).as("__s"),
        count(lit(1)).as("__n"))
      .collect() // <= radius rows
      .map(row => (row.getInt(0), row.getLong(1), row.getLong(2)))
      .sortBy(_._1)
    if (sums.isEmpty)
      return Seq((None: Option[Int], None: Option[Double], None: Option[Double]))
        .toDF("eff_radius", "reach_fraction", "avg_ball")
    val (_, sR, nodes) = sums.last
    val (effR, sEff, _) = sums
      .find { case (_, s, _) => qDen * s >= qNum * sR }
      .getOrElse(sums.last)
    Seq((effR, sEff, sR, nodes))
      .toDF("eff_radius", "__se", "__sr", "__n")
      .select(col("eff_radius"),
        round(col("__se").cast("double") /
          nullif(col("__sr").cast("double"), lit(0.0)), 6)
          .as("reach_fraction"),
        round(col("__sr").cast("double") /
          (col("__n").cast("double") * lit(1000000.0)), 6).as("avg_ball"))
  }

  def triangleStats(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("degree").as("__da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("__db")), Seq("b"))
    // orient toward the HIGHER (degree, id); carry the head's key so
    // the wedge can order its two heads without another degree join
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("__db")).otherwise(col("__da")).as("__dv"))
    val e1 = oriented.select(col("u"), col("v").as("x"), col("__dv").as("__dx"))
    val e2 = oriented.select(col("u"), col("v").as("y"), col("__dv").as("__dy"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("__dx") < col("__dy") ||
        (col("__dx") === col("__dy") && col("x") < col("y")))
      .select(col("u"), col("x"), col("y"))
    val tri = wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")),
      Seq("x", "y"), "left_semi")
    val perNode = tri
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(
        col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc",
        when(col("degree") < 2, lit(0.0))
          .otherwise(round(
            lit(2.0) * col("triangles").cast("double") /
              (col("degree") * (col("degree") - 1)).cast("double"), 6)))
  }

  /** Weighted PageRank: [[pagerankQuantized]] with per-edge long
    * weights — contributions split proportionally,
    * pr(v)·w(v→u) div Σw(v→·), instead of uniformly. The natural rank
    * over MANUFACTURED edge lists that carry strength (co-occurrence
    * counts, similarity quantizations), where uniform splitting
    * discards exactly the signal the edge build paid for.
    *
    * Same discipline as g01: distinct parallel edges collapse by
    * SUMMING weight (w ≤ 0 edges drop), loop inputs persist, dangling
    * mass is one bounded scalar per round, every round lineage-cut,
    * all arithmetic integer-exact (weights must keep pr·w inside a
    * long — quantize huge weights down; co-occurrence counts and 1e6
    * cosines are fine). */
  def pagerankWeightedQuantized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iters: Int,
      scale: Long = 1000000L,
      dampNum: Long = 85,
      dampDen: Long = 100,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampDen > 0 && scale > 0,
      s"bad pagerank params: iters=$iters damp=$dampNum/$dampDen scale=$scale")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("w") > 0L)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      // persisted like pagerankQuantized's e: nodes reads it twice and
      // outw/ew once each — without this the caller's edge pipeline
      // (often a join-heavy co-occurrence derivation) re-executes 4x
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("sw"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ew = e.join(outw, Seq("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val teleport = (dampDen - dampNum) * scale / dampDen
      // node count plan-folded as in [[pagerankQuantized]] (round 16):
      // no pre-loop driver action
      val nRel = nodes.agg(count(lit(1)).as("__nn"))
      var ranks = nodes.withColumn("pr", lit(scale))
      for (_ <- 0 until iters) {
        // dangling mass plan-folded as in [[pagerankQuantized]]
        val danglingDivN = ranks
          .join(outw, ranks("node") === outw("src"), "left_anti")
          .agg(coalesce(sum(col("pr")), lit(0L)).as("__dsum"))
          .crossJoin(broadcast(nRel))
          .select(when(col("__nn") === 0L, lit(0L))
            .otherwise(expr("__dsum div __nn")).as("__dpn"))
        val contribs = ew.join(ranks, ew("src") === ranks("node"))
          .select(col("dst"), expr("pr * w div sw").as("__c"))
          .groupBy(col("dst")).agg(sum(col("__c")).as("__c"))
        ranks = checkpointer.cut(
          nodes
            .join(contribs, nodes("node") === contribs("dst"), "left")
            .crossJoin(broadcast(danglingDivN))
            .select(col("node"),
              (lit(teleport) +
                expr(s"$dampNum * (coalesce(__c, 0L) + __dpn) div $dampDen")
              ).as("pr")),
          eager = true)
      }
      ranks
    } finally {
      ew.unpersist(blocking = false)
      outw.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      e.unpersist(blocking = false)
      ()
    }
  }

  /** SESSION-scoped co-occurrence edges: items engaged by the same user
    * within one session (events closer than `gapMinutes` chain into a
    * session; a longer silence cuts) — the time-local complement of
    * [[cooccurrenceEdges]], whose lifetime window conflates a January
    * purchase with a December one. Co-browse signals (recommendation
    * candidates, complement detection) live at session granularity.
    *
    * Sessionization is the lag-gap flag + per-user running count —
    * both windows PARTITIONED by user (PlanAudit-safe), ordered by
    * (ts, item) so same-timestamp events sessionize deterministically.
    * Per (user, session) the item set is distinct-capped to
    * `maxPerSession` lowest item ids (WindowGroupLimit — caps the
    * quadratic pair fanout per session, the g09 skew discipline), and
    * the pair tally keeps weight ≥ `minSupport`. Output:
    * (item_a, item_b, weight) with item_a < item_b. */
  def sessionCooccurrenceEdges(
      events: DataFrame,
      userCol: String,
      itemCol: String,
      tsCol: String,
      gapMinutes: Long,
      maxPerSession: Int = 64,
      minSupport: Long = 1L): DataFrame = {
    require(gapMinutes >= 1 && maxPerSession >= 2 && minSupport >= 1,
      s"bad session params: gap=$gapMinutes cap=$maxPerSession support=$minSupport")
    val gapUs = gapMinutes * 60L * 1000000L
    val base = events
      .filter(col(userCol).isNotNull && col(itemCol).isNotNull)
      .select(col(userCol).as("__u"), col(itemCol).cast("long").as("__i"),
        unix_micros(col(tsCol)).as("__t"))
    val order = Seq(col("__t").asc, col("__i").asc)
    val w = Window.partitionBy(col("__u")).orderBy(order: _*)
    val sessioned = base
      .withColumn("__new",
        when(col("__t") - lag(col("__t"), 1).over(w) > gapUs ||
          lag(col("__t"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val items = sessioned
      .select(col("__u"), col("__sid"), col("__i"))
      .distinct()
    val capped = items
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__u"), col("__sid"))
          .orderBy(col("__i").asc)))
      .filter(col("__rn") <= maxPerSession)
      .select(col("__u"), col("__sid"), col("__i"))
    capped.select(col("__u"), col("__sid"), col("__i").as("item_a"))
      .join(
        capped.select(col("__u"), col("__sid"), col("__i").as("item_b")),
        Seq("__u", "__sid"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minSupport)
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the undirected edge list — positive when
    * hubs link to hubs (social cores), negative when hubs fan out to
    * leaves (star/link-farm shapes). One single-row readout:
    * `(nodes, edges, avg_degree, assortativity)`; assortativity is
    * NULL on degree-regular graphs (zero variance).
    *
    * Both directed orientations of each undirected edge enter the
    * sums (the standard convention), so the three moments S1 = Σ jk,
    * S2 = Σ j, S3 = Σ j² over 2|E| terms give
    * r = (2|E|·S1 − S2²) / (2|E|·S3 − S2²) exactly.
    *
    * Scale shape: canonicalize+distinct is one shuffle, the degree
    * tally a second (map-side partial), two degree equi-joins annotate
    * the edges (AQE broadcasts the degree side when it fits), and the
    * moments collapse in ONE global aggregation with partial merge —
    * no window, no self-join. The edge list and degree relations are
    * persisted for the duration (the moment and node-count readers
    * would otherwise each re-derive the input edge pipeline — the g01
    * loop-input lesson applied to a DAG with two sinks), and the
    * result materializes eagerly as its ONE row (a bounded collect),
    * so the caller can never re-trigger the pipeline. Moments
    * accumulate in DECIMAL(38,0): degree products reach deg², and long
    * sums would overflow near 1e9-edge/1e5-degree graphs; the division
    * happens once, on the final row, in double (round 6). */
  def degreeAssortativity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges
      .select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val annotated = und
        .join(deg.select(col("node").as("a"), col("d").as("__da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("d").as("__db")), Seq("b"))
      val dec = "decimal(38,0)"
      // each undirected edge contributes BOTH orientations: symmetric
      // sums fold to 2× one orientation for S2/S3 and 2× the ab product
      // for S1 — still one aggregation over the single-orientation rows
      val moments = annotated.agg(
        count(lit(1)).as("__m"),
        sum((col("__da") * col("__db")).cast(dec)).as("__s1h"),
        sum(col("__da").cast(dec) + col("__db").cast(dec)).as("__s2"),
        sum((col("__da") * col("__da")).cast(dec) +
          (col("__db") * col("__db")).cast(dec)).as("__s3"))
      val nodes = deg.agg(count(lit(1)).as("__n"))
      // two single-row frames: the one crossJoin class the house allows
      val row = nodes.crossJoin(moments).select(
        col("__n").as("nodes"),
        col("__m").as("edges"),
        round(
          lit(2.0) * col("__m").cast("double") /
            nullif(col("__n").cast("double"), lit(0.0)),
          6).as("avg_degree"),
        round(
          ((col("__m").cast(dec) * lit(2) * col("__s1h") * lit(2)) -
            col("__s2") * col("__s2")).cast("double") /
            nullif(
              ((col("__m").cast(dec) * lit(2) * col("__s3")) -
                col("__s2") * col("__s2")).cast("double"),
              lit(0.0)), 6).as("assortativity"))
        .collect()(0)
      Seq((row.getLong(0), row.getLong(1),
        if (row.isNullAt(2)) None else Some(row.getDouble(2)),
        if (row.isNullAt(3)) None else Some(row.getDouble(3))))
        .toDF("nodes", "edges", "avg_degree", "assortativity")
    } finally {
      deg.unpersist(blocking = false)
      und.unpersist(blocking = false)
      ()
    }
  }
}
