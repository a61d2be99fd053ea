package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication for large text corpora — the operations a 100 TB
  * training-data pipeline needs (not in the reference, which only has
  * whole-row semantics via its Eq instance; SURVEY §7.1 north-star).
  *
  * Scale design notes (every method, 1000-executor reading):
  *   - exact: one hash-shuffle on the group key, map-side combine first;
  *   - MinHash/SimHash LSH: signatures are computed per-row (narrow,
  *     codegen'd array expressions), then ONE shuffle on (band, bandHash)
  *     buckets; candidate pairs never materialize the n^2 cross product —
  *     only same-bucket pairs, verified exactly afterwards;
  *   - nothing collects to the driver.
  */
object Dedup {

  /** Exact dedup: one survivor (min of `keep`) per distinct key tuple.
    * A single groupBy shuffle with partial aggregation. */
  def exact(df: DataFrame, keys: Seq[String], keep: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(keep)).as(keep), count(lit(1)).as("n_dups"))

  /** MinHash signature (array<long> of length `numHashes`) over a column
    * of string shingles. Hash function i is `xxhash64(seed+i, baseHash)` —
    * a distinct 64-bit hash per seed, wrapping internally (safe under ANSI
    * mode, unlike explicit multiply-add families). Computed by the native
    * [[graft.functions.expressions.MinHashSig]] expression: one
    * allocation-free pass per row, inlined into whole-stage codegen,
    * bit-identical to the xxhash64 HOF composition. Per-row, no shuffle. */
  def minhashSignature(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    graft.functions.expressions.Sketches.minhashSig(shingles, numHashes, seed)

  /** MinHash + LSH banding: returns candidate duplicate pairs
    * (id_a < id_b) whose signatures collide in >= 1 of `bands` bands, with
    * their exact shingle-Jaccard similarity attached.
    *
    * Pipeline: shingle -> signature (narrow) -> explode bands (xB rows,
    * carrying ONLY (id, band, bandHash) — never the shingle arrays) ->
    * ONE shuffle grouping by (band, bandHash) -> in-bucket self-join on
    * ids -> dedup candidate pairs -> re-attach the shingle sets with two
    * id-keyed joins -> exact verify. Keeping the banding payload to three
    * scalars bounds shuffle bytes at O(rows x bands x 24B) regardless of
    * document size; the full sets move exactly twice (once per join side),
    * keyed by id, and AQE broadcasts the candidate side when it is small.
    * Bucket join is on the band hash, so skew only occurs if a
    * near-identical cluster is huge — cap with `maxBucket`. */
  /* `idCol` must uniquely identify rows (it is the document identity the
   * candidate pairs and verify joins key on); duplicate ids fan out the
   * verify join — dedupe upstream with [[exact]] first. */
  /** The LSH index rows for a frame: (idCol, band, bh) — blank docs
    * excluded (wordShingles of an empty token array is [""], one
    * degenerate shingle that would bucket every empty document together
    * in every band). The banding payload is three scalars per (row,
    * band); shingle arrays never leave the scan stage. */
  private def bandedKeys(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int,
      bands: Int,
      seed: Long): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    df.filter(trim(col(textCol)) =!= "")
      .select(col(idCol), wordShingles(col(textCol), shingleSize).as("__sh"))
      .withColumn("__sig", minhashSignature(col("__sh"), numHashes, seed))
      .select(
        col(idCol),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => struct(
              b.as("band"),
              xxhash64(concat_ws(",", slice(col("__sig"), b * rows + 1, lit(rows))))
                .as("bh")))).as("__band"))
      .select(col(idCol), col("__band.band"), col("__band.bh"))
  }

  /** The shared MinHash-LSH CANDIDATE stage: banded signature buckets
    * (capped at `maxBucket` rows per bucket — pathological all-identical
    * spam clusters otherwise square) self-joined within (band, bucket)
    * to distinct (id_a < id_b) pairs. Every downstream verify metric
    * ([[minhashPairs]]' shingle Jaccard, [[editVerifiedPairs]]' exact
    * edit similarity) runs over THIS bounded set — never all pairs. */
  private[graft] def lshCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int,
      bands: Int,
      seed: Long,
      maxBucket: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val banded = bandedKeys(df, idCol, textCol, shingleSize, numHashes, bands, seed)
    // cap pathological buckets (all-identical spam clusters)
    val capped = banded
      .withColumn(
        "__rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("bh"))
            .orderBy(col(idCol))))
      .filter(col("__rn") <= maxBucket)
    capped
      .select(col("band"), col("bh"), col(idCol).as("id_a"))
      .join(capped.select(col("band"), col("bh"), col(idCol).as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact EDIT-DISTANCE verification of the MinHash candidate set — the
    * character-level verify stage shingle Jaccard cannot substitute for:
    * set-of-shingles similarity is blind to ORDER and MULTIPLICITY
    * (a document with shuffled sentences keeps most of its shingle set),
    * while curation decisions like "near-identical revision, keep one"
    * want the Levenshtein ratio
    *
    *   edit_sim = 1 - lev(a, b) / max(|a|, |b|, 1)
    *
    * Output: (id_a, id_b, lev, edit_sim) for candidates with rounded
    * edit_sim >= `minRatio`.
    *
    * Scale shape: candidates come from [[lshCandidatePairs]] — LSH
    * bounds the pair set, so the O(|a|*|b|) DP runs per CANDIDATE, not
    * per pair of documents; texts re-attach via two keyed joins (the
    * same text-not-shingle-bytes discipline as [[minhashPairs]]); the
    * DP itself is Spark's codegen'd `levenshtein`, scan-local after the
    * joins. Determinism: integer DP, one double division, round(6) —
    * d20's DuckDB oracle replays it bit-for-bit. */
  def editVerifiedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      maxBucket: Int = 1000,
      minRatio: Double = 0.8): DataFrame = {
    val candidates = lshCandidatePairs(
      df, idCol, textCol, shingleSize, numHashes, bands, seed, maxBucket)
    val texts = df.select(col(idCol), col(textCol))
    candidates
      .join(texts.select(col(idCol).as("id_a"), col(textCol).as("__t_a")), Seq("id_a"))
      .join(texts.select(col(idCol).as("id_b"), col(textCol).as("__t_b")), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        levenshtein(col("__t_a"), col("__t_b")).cast("long").as("lev"),
        round(
          lit(1.0) - levenshtein(col("__t_a"), col("__t_b")).cast("double") /
            greatest(length(col("__t_a")), length(col("__t_b")), lit(1))
              .cast("double"),
          6).as("edit_sim"))
      .filter(col("edit_sim") >= minRatio)
  }

  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      maxBucket: Int = 1000): DataFrame = {
    val candidates = lshCandidatePairs(
      df, idCol, textCol, shingleSize, numHashes, bands, seed, maxBucket)
    // exact verify: re-attach the raw TEXT (smaller than the shingle
    // arrays) and shingle only the candidate-matched rows — the corpus
    // pays the shingle pass once (banding), not three times, and the
    // verify joins move text bytes instead of k-gram arrays.
    val texts = df.select(col(idCol), col(textCol))
    candidates
      .join(texts.select(col(idCol).as("id_a"), col(textCol).as("__t_a")), Seq("id_a"))
      .join(texts.select(col(idCol).as("id_b"), col(textCol).as("__t_b")), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        round(
          jaccard(
            wordShingles(col("__t_a"), shingleSize),
            wordShingles(col("__t_b"), shingleSize)),
          6).as("jaccard"))
  }

  /** MinHash-LSH recall measurement — the dedup twin of
    * [[Similarity.annRecallCurve]]: for each banding budget, the
    * fraction of TRUE near-dup pairs (exact shingle-Jaccard >= `tau`,
    * via the prefix-filter engine whose recall is provably exact) that
    * the banded index surfaces as candidates. This is the published
    * S-curve (1-(1-J^r)^b) measured on the actual corpus — the number a
    * curation pipeline needs before trusting an LSH operating point.
    * Alongside recall, each budget reports its `candidate_pairs` and
    * `precision` (found/candidates) — the verify-join cost that recall
    * is bought with, the other half of choosing a banding.
    *
    * One signature pass serves every budget: the (bands, slice-offset,
    * slice-length) table enters as a plan literal and each row explodes
    * to its band keys for ALL budgets at once — the corpus is shingled
    * and minhashed exactly once, never re-scanned per configuration.
    * Budgets whose band boundaries nest (each divides the next, e.g.
    * 4/8/16 over 64 hashes) have provably monotone candidate sets — a
    * 16-row band match is two aligned 8-row matches — so recall is
    * monotone in `bands` there (pinned in DedupSpec).
    *
    * Scale shape: banding rows carry (id, budget, band, hash) scalars
    * only; the self-join is bucketed by (budget, band, hash) with the
    * same `maxBucket` skew cap as [[minhashPairs]]; the truth side is
    * the d05 prefix-filter join. Output is `bandCounts.size` rows. */
  def lshRecallCurve(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bandCounts: Seq[Int] = Seq(4, 8, 16),
      tau: Double = 0.4,
      seed: Long = 42L,
      maxBucket: Int = 1000,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    require(
      bandCounts.nonEmpty && bandCounts.forall(b => b > 0 && numHashes % b == 0),
      s"each band count must divide numHashes=$numHashes; got $bandCounts")
    val budgets = bandCounts.distinct.sorted
    // ONE shingle pass serves the exact-truth side AND the banded
    // signatures (round 15): the set relation is lineage-cut inside
    // prefixJaccardPairsFromSets and re-read for the minhash — before,
    // the corpus was re-shingled once per truth consumer plus once for
    // banding. Same relation either way: a non-blank text always
    // yields >= 1 shingle, so the size>0 filter drops nothing extra.
    val sets = df
      .filter(trim(col(textCol)) =!= "")
      .select(col(idCol).as("__id"),
        wordShingles(col(textCol), shingleSize).as("__set"))
      .filter(size(col("__set")) > 0)
    val cutSets = checkpointer.cut(sets, eager = false)
    // the truth relation is consumed TWICE (the recall join and the
    // single-row true_pairs aggregate), so its verify subtree executes
    // twice. Round 16 measured both dedup variants WORSE and reverted
    // them (paired standalone min-of-5 at sf0.1, base 4.24 s): a lazy
    // localCheckpoint is raced by AQE's concurrent stage-
    // materialization futures — both consumers started before either
    // materialized the cut, so the verify ran twice ANYWAY, plus the
    // checkpoint write (4.67 s); an eager cut dedupes but SERIALIZES
    // the verify against the banding side that otherwise overlaps it
    // on idle cores (5.85 s). The duplication is wall-free whenever
    // the cluster has idle capacity (guide §2.6 — concurrent jobs
    // back-fill); on a saturated cluster pass an eager-cutting
    // `checkpointer` wrapper to trade latency for the duplicate pass.
    val truth = prefixJaccardPairsFromSets(cutSets, tau, blocked = false)
      .select(col("id_a"), col("id_b"))
    val truthCount = truth.agg(count(lit(1)).as("true_pairs"))
    // (bands, 1-based slice offset, slice length) per (budget, band)
    val cfg = typedLit(budgets.flatMap { b =>
      val r = numHashes / b
      (0 until b).map(i => (b, i * r + 1, r))
    })
    val banded = cutSets
      .select(
        col("__id").as(idCol),
        minhashSignature(col("__set"), numHashes, seed).as("__sig"))
      .select(
        col(idCol),
        explode(transform(cfg, c => struct(
          c("_1").as("nb"),
          c("_2").as("band"), // the offset is unique per band within a budget
          xxhash64(concat_ws(",", slice(col("__sig"), c("_2"), c("_3"))))
            .as("bh")))).as("__k"))
      .select(col(idCol), col("__k.nb").as("nb"),
        col("__k.band").as("band"), col("__k.bh").as("bh"))
    val capped = banded
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("nb"), col("band"), col("bh"))
          .orderBy(col(idCol))))
      .filter(col("__rn") <= maxBucket)
    val candidates = capped
      .select(col("nb"), col("band"), col("bh"), col(idCol).as("id_a"))
      .join(
        capped.select(col("nb"), col("band"), col("bh"), col(idCol).as("id_b")),
        Seq("nb", "band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("nb"), col("id_a"), col("id_b"))
      .distinct()
    // one pass over the candidate set yields both sides of the dial:
    // found (recall numerator) and the total candidate count (the
    // verify-join cost the budget buys that recall with)
    val perBudget = candidates
      .join(truth.withColumn("__t", lit(1)), Seq("id_a", "id_b"), "left")
      .groupBy(col("nb")).agg(
        count(lit(1)).as("candidate_pairs"),
        count(col("__t")).as("found_pairs"))
    df.sparkSession.range(1)
      .select(explode(typedLit(budgets)).as("bands"))
      .join(perBudget.withColumnRenamed("nb", "bands"), Seq("bands"), "left")
      .na.fill(0L, Seq("candidate_pairs", "found_pairs"))
      .crossJoin(truthCount) // single-row aggregate, broadcast
      .select(
        col("bands"),
        (lit(numHashes) / col("bands")).cast("int").as("rows_per_band"),
        col("true_pairs"),
        col("candidate_pairs"),
        col("found_pairs"),
        round(col("found_pairs").cast("double") / col("true_pairs"), 6)
          .as("recall"),
        round(col("found_pairs").cast("double") / col("candidate_pairs"), 6)
          .as("precision"))
  }

  /** Incremental (shard-vs-corpus) dedup — the op a continual-ingest
    * pipeline runs on every new crawl drop: classify each batch row as
    *   - `exact_dup`: its whitespace-normalized lowercase text already
    *     exists in the corpus (dup_of = lowest matching corpus id);
    *   - `near_dup`: a minhash band collides with a corpus row AND the
    *     exact shingle-Jaccard (round 6) is >= `tau` (dup_of = lowest
    *     verified corpus id);
    *   - `novel`: neither.
    * One row per batch row, exact-first precedence.
    *
    * Scale shape — deliberately ASYMMETRIC, unlike [[minhashPairs]]:
    * the corpus side reduces to two precomputable indexes — (normalized
    * hash -> min id) and the (id, band, bh) LSH rows from
    * [[bandedKeys]] — which at 100 TB are built once, stored bucketed
    * on their join keys, and only APPENDED to as batches commit. Each
    * daily batch (orders of magnitude smaller) joins those indexes;
    * AQE broadcasts the batch side of every join. Verification
    * re-shingles only candidate-matched rows. No bucket cap: spam
    * clusters should be removed by the exact layer upstream — a cap
    * here would silently let near-dups through. */
  def incrementalDedup(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      tau: Double = 0.4): DataFrame = {
    val corpusNorm = corpus
      .select(normText(col(textCol)).as("__n"), col(idCol).as("__cid"))
      .groupBy(col("__n")).agg(min(col("__cid")).as("__exact_of"))
    val cb = bandedKeys(corpus, idCol, textCol, shingleSize, numHashes, bands, seed)
      .select(col("band"), col("bh"), col(idCol).as("__cid"))
    val texts = corpus.select(col(idCol).as("__cid"), col(textCol).as("__tc"))
    probeDedupIndexes(corpusNorm, cb, texts, batch, idCol, textCol,
      shingleSize, numHashes, bands, seed, tau)
  }

  private def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** The batch-vs-index probe shared by [[incrementalDedup]] (indexes
    * built inline) and [[incrementalDedupIndexed]] (indexes read from
    * bucketed tables). The batch side of every join is the small one —
    * AQE broadcasts it, so the index relations are never shuffled. */
  private def probeDedupIndexes(
      corpusNorm: DataFrame, // (__n, __exact_of)
      corpusBands: DataFrame, // (band, bh, __cid)
      corpusTexts: DataFrame, // (__cid, __tc)
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int,
      bands: Int,
      seed: Long,
      tau: Double): DataFrame = {
    val exactHit = batch
      .select(col(idCol), normText(col(textCol)).as("__n"))
      .join(corpusNorm, Seq("__n"), "left")
      .select(col(idCol), col("__exact_of"))
    val bb = bandedKeys(batch, idCol, textCol, shingleSize, numHashes, bands, seed)
    val cand = bb.select(col("band"), col("bh"), col(idCol).as("__bid"))
      .join(corpusBands, Seq("band", "bh"))
      .select(col("__bid"), col("__cid"))
      .distinct()
    val nearHit = cand
      .join(batch.select(col(idCol).as("__bid"), col(textCol).as("__tb")), Seq("__bid"))
      .join(corpusTexts, Seq("__cid"))
      .filter(
        round(jaccard(
          wordShingles(col("__tb"), shingleSize),
          wordShingles(col("__tc"), shingleSize)), 6) >= tau)
      .groupBy(col("__bid")).agg(min(col("__cid")).as("__near_of"))
      .withColumnRenamed("__bid", idCol)
    batch.select(col(idCol))
      .join(exactHit, Seq(idCol), "left")
      .join(nearHit, Seq(idCol), "left")
      .select(
        col(idCol),
        when(col("__exact_of").isNotNull, lit("exact_dup"))
          .when(col("__near_of").isNotNull, lit("near_dup"))
          .otherwise(lit("novel")).as("status"),
        coalesce(col("__exact_of"), col("__near_of")).as("dup_of"))
  }

  /** PERSIST [[incrementalDedup]]'s corpus-side indexes as bucketed
    * tables — the build step a continual-ingest pipeline runs once (and
    * appends to as batches commit), so each daily drop probes indexes
    * instead of re-scanning the corpus:
    *   - `<table>_exact`: (normalized text -> min corpus id), bucketed
    *     by the normalized text;
    *   - `<table>_bands`: the (band, bh, id) LSH rows, bucketed by
    *     (band, bh);
    *   - `<table>_texts`: (id, text), bucketed by id — candidate
    *     verification re-reads only matched ids' buckets.
    * The text/shingle pass over the corpus is paid HERE, once. The three
    * tables are committed together after all three are written, so a
    * failed rebuild leaves the previous index whole. */
  def writeDedupIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      numBuckets: Int = 32,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L): Unit = {
    val corpusNorm = corpus
      .select(normText(col(textCol)).as("__n"), col(idCol).as("__cid"))
      .groupBy(col("__n")).agg(min(col("__cid")).as("__exact_of"))
    Bucketing.writeBucketed(numBuckets,
      Bucketing.Target(corpusNorm, s"${table}_exact", Seq("__n")),
      Bucketing.Target(
        bandedKeys(corpus, idCol, textCol, shingleSize, numHashes, bands, seed)
          .select(col("band"), col("bh"), col(idCol).as("__cid")),
        s"${table}_bands", Seq("band", "bh")),
      Bucketing.Target(
        corpus.select(col(idCol).as("__cid"), col(textCol).as("__tc")),
        s"${table}_texts", Seq("__cid")))
  }

  /** APPEND a committed batch to a persisted [[writeDedupIndex]] — the
    * maintenance half of continual ingestion: later batches then dedup
    * against earlier ones without any index rebuild. Per append, only
    * the NEW rows shuffle (one keyed write per index table); the
    * existing index files are untouched ([[Bucketing.appendBucketed]]).
    * The exact-map keeps its first-owner-wins invariant: a normalized
    * text already present keeps its original canonical id. The
    * already-present check is two batch-proportional broadcast joins —
    * a LEFT SEMI that prunes the index to the batch's norms (batch side
    * broadcasts; a LEFT ANTI against the index directly could NOT
    * broadcast the batch — anti builds only its right side — and would
    * either broadcast the whole index or sort-merge-shuffle both sides),
    * then a LEFT ANTI against that pruned, batch-bounded result. The
    * index is scanned (one column, never shuffled); per-append SHUFFLE
    * cost scales with the batch alone. Append ≡ rebuild whenever shared
    * normalized texts have their minimum id on the index side (the
    * ids-grow-with-time ingest order); otherwise the index keeps the
    * EARLIER owner where a rebuild would re-elect the global minimum —
    * both pinned in BucketingSpec. Ids are assumed unique corpus-wide
    * (the [[writeDedupIndex]] contract); LSH parameters MUST match the
    * build. Single-writer: appends are a batch-pipeline step, not a
    * concurrent sink. */
  def appendDedupIndex(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numBuckets: Int = 32,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L): Unit = {
    val batchNorm = batch
      .select(normText(col(textCol)).as("__n"), col(idCol).as("__cid"))
      .groupBy(col("__n")).agg(min(col("__cid")).as("__exact_of"))
    val present = spark.table(s"${table}_exact").select(col("__n"))
      .join(broadcast(batchNorm.select(col("__n"))), Seq("__n"), "left_semi")
    val newNorm = batchNorm.join(broadcast(present), Seq("__n"), "left_anti")
    Bucketing.appendBucketed(newNorm, s"${table}_exact", Seq("__n"), numBuckets)
    Bucketing.appendBucketed(
      bandedKeys(batch, idCol, textCol, shingleSize, numHashes, bands, seed)
        .select(col("band"), col("bh"), col(idCol).as("__cid")),
      s"${table}_bands", Seq("band", "bh"), numBuckets)
    Bucketing.appendBucketed(
      batch.select(col(idCol).as("__cid"), col(textCol).as("__tc")),
      s"${table}_texts", Seq("__cid"), numBuckets)
  }

  /** PURGE documents from a persisted [[writeDedupIndex]] — the
    * takedown / right-to-be-forgotten half of index maintenance
    * ([[appendDedupIndex]] is the ingest half): every trace of the
    * given ids leaves all three index tables, and the exact map REPAIRS
    * OWNERSHIP — a normalized text whose first-owner id is purged is
    * re-owned by the minimum surviving id that still carries that text
    * (or dropped when none does), so purge ≡ a fresh
    * [[writeDedupIndex]] over the surviving corpus, exactly (pinned in
    * BucketingSpec, including the owner-reassignment case; p15 gates it
    * against the DuckDB oracle). Without the repair, purging an owner
    * would either leak the purged id (still served as `dup_of`) or
    * forget that the surviving copies exist — both wrong for a takedown.
    *
    * Scale shape: the purge set broadcasts into every join (LEFT ANTI /
    * LEFT SEMI build their RIGHT side — the small ids relation — so the
    * index tables are never shuffled for the filtering); the ownership
    * repair re-normalizes the surviving texts in ONE scan, pruned by a
    * broadcast semi-join to the affected norms (proportional to the
    * purge, not the index). The three tables then rewrite in ONE
    * [[Bucketing.writeBucketed]] call: all three are staged from the
    * pre-purge rows before any is committed, so a failed purge leaves
    * the whole index at its previous version. Rewriting surviving rows
    * is the inherent cost of physical deletion in immutable storage (the
    * same cost a compaction pays); ids are assumed unique corpus-wide,
    * and the single-writer contract of every index mutation applies. */
  def purgeDedupIndex(
      spark: SparkSession,
      table: String,
      purgeIds: DataFrame,
      numBuckets: Int = 32): Unit = {
    val ids = purgeIds
      .select(col(purgeIds.columns.head).cast("long").as("__pid")).distinct()
    val texts = spark.table(s"${table}_texts")
    val textsKept = texts
      .join(broadcast(ids), texts("__cid") === ids("__pid"), "left_anti")
    val bands = spark.table(s"${table}_bands")
    val bandsKept = bands
      .join(broadcast(ids), bands("__cid") === ids("__pid"), "left_anti")
    val exact = spark.table(s"${table}_exact")
    val affected = exact
      .join(broadcast(ids), exact("__exact_of") === ids("__pid"), "left_semi")
    val kept = exact
      .join(broadcast(ids), exact("__exact_of") === ids("__pid"), "left_anti")
    val reowned = textsKept
      .select(normText(col("__tc")).as("__n"), col("__cid"))
      .join(broadcast(affected.select(col("__n"))), Seq("__n"), "left_semi")
      .groupBy(col("__n")).agg(min(col("__cid")).as("__exact_of"))
    Bucketing.writeBucketed(numBuckets,
      Bucketing.Target(kept.unionByName(reowned), s"${table}_exact", Seq("__n")),
      Bucketing.Target(bandsKept, s"${table}_bands", Seq("band", "bh")),
      Bucketing.Target(textsKept, s"${table}_texts", Seq("__cid")))
  }

  /** PERSIST the corpus's stride-1 window-hash set — the incremental
    * serving face of [[duplicatedSpans]], and the third persisted index
    * family next to [[writeDedupIndex]] (document-level) and the IVF
    * index (embedding-level): a daily shard probes WHICH PARTS of its
    * documents already exist verbatim in the corpus (quote detection /
    * partial-copy profiling) without re-scanning it. One bucketed table
    * `<table>_spans` of DISTINCT 8-byte window hashes, bucketed by the
    * hash — ~8 B per distinct corpus window, deliberately id-free:
    * presence is all a probe needs, attribution would 2.5× the rows.
    * The id-free rows mean a takedown cannot subtract one document's
    * windows (they may be shared) — purge = rebuild over survivors, the
    * documented trade. `windowTokens` MUST match between build, append,
    * and probe. */
  def writeSpanIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      windowTokens: Int = 8,
      numBuckets: Int = 32): Unit =
    Bucketing.writeBucketed(
      spanWindows(spanBase(corpus, idCol, textCol, windowTokens), idCol, windowTokens)
        .select(col("__h")).distinct(),
      s"${table}_spans", Seq("__h"), numBuckets)

  /** APPEND a committed batch's windows to a persisted
    * [[writeSpanIndex]] — same batch-proportional discipline as
    * [[appendDedupIndex]], but with KEYED joins instead of broadcasts:
    * the batch's distinct hashes are one row per distinct batch window
    * (past any broadcast threshold for a real shard, unlike the
    * per-DOC rows the document-level append broadcasts), so they
    * shuffle ONCE into the index's hash bucketing for a LEFT SEMI that
    * prunes the index to the already-present subset (index side
    * satisfied from its bucketed-sorted files — zero exchange), and
    * the LEFT ANTI against that batch-bounded set reuses the same
    * hash partitioning. A direct anti against the index would build
    * the WHOLE index as the join's right side — the same trap
    * [[appendDedupIndex]] documents. Existing files untouched; the
    * distinct-hash invariant of the build is preserved (append ≡
    * rebuild unconditionally — hash sets have no ownership to fight
    * over; pinned in BucketingSpec). Single-writer. */
  def appendSpanIndex(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8,
      numBuckets: Int = 32): Unit = {
    val batchH =
      spanWindows(spanBase(batch, idCol, textCol, windowTokens), idCol, windowTokens)
        .select(col("__h")).distinct()
    val present = spark.table(s"${table}_spans")
      .join(batchH, Seq("__h"), "left_semi")
    val newH = batchH.join(present, Seq("__h"), "left_anti")
    Bucketing.appendBucketed(newH, s"${table}_spans", Seq("__h"), numBuckets)
  }

  /** Probe a persisted [[writeSpanIndex]]: the batch's windows
    * equi-join the hash table on `__h`. Unlike the document-level
    * probes, the batch side here is one row PER TOKEN — far past any
    * broadcast threshold for a real shard — so the scale shape is a
    * keyed shuffle of the BATCH windows into the index's hash
    * bucketing: the index side, bucketed AND sorted by `__h` at build
    * time, satisfies the join's distribution and ordering from its
    * files (zero index-side exchange or sort, pinned in BucketingSpec);
    * per-probe shuffle cost is proportional to the batch alone, and
    * distinct index hashes mean the inner join marks without fanning
    * out. Duplicated positions then fold into the per-document span
    * profile exactly as [[duplicatedSpans]] does: d16's output shape
    * with "duplicated" meaning PRESENT IN THE CORPUS — the
    * partial-copy report for an incoming shard. */
  def probeSpanIndex(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8): DataFrame = {
    val base = spanBase(batch, idCol, textCol, windowTokens)
    val wins = spanWindows(base, idCol, windowTokens)
    val dup = wins
      .join(spark.table(s"${table}_spans"), Seq("__h"))
      .select(col(idCol), col("__p"))
    spanProfile(base, dup, idCol, windowTokens)
  }

  /** [[incrementalDedup]] served from a persisted [[writeDedupIndex]]:
    * same classification, but the corpus enters only through its three
    * bucketed index tables — never shuffled (the batch side broadcasts),
    * never fully re-scanned. LSH parameters MUST match the build. */
  def incrementalDedupIndexed(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      tau: Double = 0.4): DataFrame =
    probeDedupIndexes(
      spark.table(s"${table}_exact"),
      spark.table(s"${table}_bands"),
      spark.table(s"${table}_texts"),
      batch, idCol, textCol, shingleSize, numHashes, bands, seed, tau)

  /** 64-bit SimHash over token hashes: bit j of the result is the sign of
    * sum over tokens of (+1 if bit j of xxhash64(token) else -1).
    * Computed by the native [[graft.functions.expressions.SimHash64]]
    * expression — one tight loop per row inside whole-stage codegen;
    * per-row, no shuffle. */
  def simhash(text: Column): Column =
    graft.functions.expressions.Sketches.simhash64(tokens(lower(text)))

  /** SimHash near-dup pairs: hamming(simhash_a, simhash_b) <= maxHamming.
    *
    * Index design (multi-index hashing, chosen for bucket cardinality that
    * survives 100 TB — a 7-bit bucket key is a cartesian in disguise):
    *   - r <= 3: split the 64 bits into `r+1` contiguous blocks (each
    *     >= 16 bits, >= 65536 bucket values). Pigeonhole: r flipped bits
    *     leave >= 1 block untouched, so every qualifying pair collides on
    *     at least one single-block index — recall guaranteed.
    *   - r > 3: split into `m = r+2` blocks and index every PAIR of blocks
    *     (C(m,2) indexes keyed by the concatenated pair of block values,
    *     >= 12 bits each). Pigeonhole: r flips touch at most m-2 blocks,
    *     leaving >= 2 clean blocks whose pair index collides — recall
    *     guaranteed, with bucket keys fine-grained enough that in-bucket
    *     joins stay near-linear.
    * Each exploded row carries only (keys, id, 64-bit sketch): the shuffle
    * payload is O(rows x indexes x 40B), independent of document size. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming in [0, 32)")
    val m = if (maxHamming <= 3) maxHamming + 1 else maxHamming + 2
    val bounds = (0 to m).map(c => c * 64 / m)
    def blockVal(c: Int): Column = {
      val lo = bounds(c)
      val width = bounds(c + 1) - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftright(col("__sim"), lo).bitwiseAND(mask)
    }
    // static key structs: (index id, key value(s)) — plain literal shifts,
    // fully codegen'd
    val keyStructs: Seq[Column] =
      if (maxHamming <= 3)
        (0 until m).map(c =>
          struct(lit(c).as("k1"), lit(-1).as("k2"),
            blockVal(c).as("v1"), lit(0L).as("v2")))
      else
        for { i <- 0 until m; j <- i + 1 until m } yield
          struct(lit(i).as("k1"), lit(j).as("k2"),
            blockVal(i).as("v1"), blockVal(j).as("v2"))
    val keyed = df
      .select(col(idCol), simhash(col(textCol)).as("__sim"))
      .select(col(idCol), col("__sim"), explode(array(keyStructs: _*)).as("__c"))
      .select(
        col(idCol), col("__sim"),
        col("__c.k1"), col("__c.k2"), col("__c.v1"), col("__c.v2"))
    val a = keyed.select(
      col("k1"), col("k2"), col("v1"), col("v2"),
      col(idCol).as("id_a"), col("__sim").as("__sim_a"))
    val b = keyed.select(
      col("k1"), col("k2"), col("v1"), col("v2"),
      col(idCol).as("id_b"), col("__sim").as("__sim_b"))
    a.join(b, Seq("k1", "k2", "v1", "v2"))
      .filter(col("id_a") < col("id_b"))
      .select(
        col("id_a"), col("id_b"),
        bit_count(col("__sim_a").bitwiseXOR(col("__sim_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard similarity join restricted to same-block pairs
    * (block = e.g. language). The block is a SEMANTIC restriction only —
    * "compare documents within the same language" — not the complexity
    * control it was in early rounds: internally this delegates to the
    * prefix-filtering engine of [[jaccardSimilarityJoin]] with the block
    * folded into the candidate key, so a low-cardinality block (a corpus
    * that is 90% one language) no longer degenerates into an all-pairs
    * join within the big block. Emits pairs with jaccard >= threshold. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      threshold: Double,
      useUnigrams: Boolean = true,
      shingleSize: Int = 3,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame =
    prefixJaccardPairs(df, idCol, textCol, threshold, useUnigrams,
      shingleSize, blockCol = Some(blockCol), checkpointer = checkpointer)

  /** Exact Jaccard set-similarity self-join via prefix filtering (the
    * AllPairs/PPJoin principle): order all tokens by ascending global
    * document frequency (ties by token); each set emits only its first
    * `|s| - ceil(t*|s|) + 1` tokens as blocking keys. Any pair with
    * J >= t shares >= ceil(t*|s|) tokens, so its smallest common token
    * under that order falls inside BOTH prefixes — recall is exact, no
    * LSH miss probability. Frequent tokens sort last and almost never
    * enter a prefix, so block sizes are bounded by token rarity rather
    * than by an attribute's value cardinality.
    *
    * Shuffles, all keyed and linear: token df (groupBy), rank-back join
    * on token, per-id window, prefix self-join on token, candidate dedup,
    * two id-keyed verify joins carrying the sets exactly once per side. */
  def jaccardSimilarityJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      useUnigrams: Boolean = true,
      shingleSize: Int = 3,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame =
    prefixJaccardPairs(df, idCol, textCol, threshold, useUnigrams,
      shingleSize, blockCol = None, checkpointer = checkpointer)

  /** Shared prefix-filtering engine for [[jaccardSimilarityJoin]] (no
    * block) and [[ngramJaccardPairs]] (same-block pairs only). When a
    * block is given it joins the CANDIDATE key — (block, token) instead
    * of token — so cross-block candidates never materialize; the token
    * rarity order stays GLOBAL, which keeps the prefix guarantee valid
    * for every same-block pair (both sides of any pair rank their tokens
    * under the same total order). */
  private def prefixJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      useUnigrams: Boolean,
      shingleSize: Int,
      blockCol: Option[String],
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    val setExpr =
      if (useUnigrams) tokenSet(col(textCol))
      else wordShingles(col(textCol), shingleSize)
    val blkSel = blockCol.map(c => col(c).as("__blk")).toSeq
    val rawSets = df
      .filter(trim(col(textCol)) =!= "") // blank docs: shingles would be [""]
      .select(col(idCol).as("__id") +: setExpr.as("__set") +: blkSel: _*)
      .filter(size(col("__set")) > 0)
    // the set relation is consumed FOUR times below (token df, prefix
    // ranking, both verify sides): lineage-cut once so tokenize/shingle
    // runs a single pass instead of four (round 15, guide §1.2). The
    // cut is lazy — materialized by the first downstream action, shared
    // by the rest. At scale this trades three recomputed tokenize
    // passes over the corpus for one executor-local spill of the sets.
    prefixJaccardPairsFromSets(
      checkpointer.cut(rawSets, eager = false), threshold, blockCol.isDefined)
  }

  /** [[prefixJaccardPairs]] over a pre-built `(__id, __set[, __blk])`
    * relation; callers pass it already lineage-cut (it is consumed four
    * times: token df, prefix ranking, both verify sides). */
  private def prefixJaccardPairsFromSets(
      sets: DataFrame,
      threshold: Double,
      blocked: Boolean): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val blkSel = if (blocked) Seq(col("__blk")) else Seq.empty
    val blkCols = blkSel
    val toks = sets.select(
      col("__id") +: explode(col("__set")).as("__tok") +: blkCols: _*)
    val tokenDf = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"))
      .orderBy(col("__df"), col("__tok"))
    val sizeW = org.apache.spark.sql.expressions.Window.partitionBy(col("__id"))
    val prefix = toks
      .join(tokenDf, Seq("__tok"))
      .withColumn("__rn", row_number().over(rankW))
      .withColumn("__sz", count(lit(1)).over(sizeW))
      .filter(col("__rn") <= col("__sz") - ceil(col("__sz") * threshold) + 1)
      .select(col("__tok") +: col("__id") +: blkCols: _*)
    val candKeys = "__tok" +: blkSel.map(_ => "__blk")
    val candidates = prefix
      .withColumnRenamed("__id", "id_a")
      .join(prefix.withColumnRenamed("__id", "id_b"), candKeys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    candidates
      .join(sets.select(col("__id").as("id_a"), col("__set").as("__set_a")), Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__set").as("__set_b")), Seq("id_b"))
      .withColumn("jaccard", round(jaccard(col("__set_a"), col("__set_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact CONTAINMENT self-join — the ASYMMETRIC similarity Jaccard
    * resemblance is blind to (Broder's original distinction): C(A, B) =
    * |A ∩ B| / |A| finds documents whose shingle set is mostly INSIDE
    * another's — quotes, nested articles, boilerplate-wrapped reposts —
    * where the symmetric ratio stays tiny because the containing
    * document is large. Emits ORDERED pairs (id_a contained in id_b)
    * with containment >= `threshold`.
    *
    * Candidate generation is the asymmetric prefix principle: only the
    * CONTAINED side prunes — A emits its `|A| - ceil(t·|A|) + 1` rarest
    * shingles as keys, probed against every document's FULL shingle
    * list. (C(A,B) >= t forces >= ceil(t·|A|) shared shingles, more
    * than fit outside A's prefix, so some shared shingle is in the
    * prefix and in B's list — recall is EXACT; the d21 oracle verifies
    * it with a candidate-scheme-blind SQL replay.) The containing side
    * cannot prune — that asymmetry is inherent to containment, so the
    * keyed join is bounded by prefix rarity × shingle df rather than a
    * prefix × prefix product; shingle keys (vs unigrams) keep df low.
    * Verification carries each shingle set once per side, exactly like
    * [[jaccardSimilarityJoin]].
    *
    * Short-doc semantics: documents with FEWER than `shingleSize`
    * tokens are excluded entirely (they have no full-width shingle;
    * `wordShingles` would otherwise emit one truncated window, and two
    * identical sub-width docs would score containment 1.0 on a
    * window no full-width document can share — d21's oracle drops them
    * the same way). */
  def containmentJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val sets = df
      .filter(trim(col(textCol)) =!= "")
      .select(col(idCol).as("__id"), tokens(lower(col(textCol))).as("__ts"))
      .filter(size(col("__ts")) >= shingleSize)
      .select(col("__id"),
        array_distinct(graft.functions.expressions.Sketches
          .wordShingles(col("__ts"), shingleSize)).as("__set"))
      .filter(size(col("__set")) > 0)
    val toks = sets.select(col("__id"), explode(col("__set")).as("__tok"))
    val tokenDf = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"))
      .orderBy(col("__df"), col("__tok"))
    val sizeW = org.apache.spark.sql.expressions.Window.partitionBy(col("__id"))
    val prefixA = toks
      .join(tokenDf, Seq("__tok"))
      .withColumn("__rn", row_number().over(rankW))
      .withColumn("__sz", count(lit(1)).over(sizeW))
      .filter(col("__rn") <= col("__sz") - ceil(col("__sz") * threshold) + 1)
      .select(col("__tok"), col("__id").as("id_a"))
    val candidates = prefixA
      .join(toks.select(col("__tok"), col("__id").as("id_b")), Seq("__tok"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    candidates
      .join(sets.select(col("__id").as("id_a"), col("__set").as("__set_a")), Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__set").as("__set_b")), Seq("id_b"))
      .withColumn("containment",
        round(size(array_intersect(col("__set_a"), col("__set_b"))).cast("double")
          / size(col("__set_a")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Soft dedup — duplicate-count REWEIGHTING instead of removal: every
    * document gets weight 1/|cluster| from its near-dup component, so a
    * passage duplicated k times contributes total mass 1 to the
    * training objective however it is sharded (the "down-weight, don't
    * drop" alternative curation pipelines use when duplicates carry
    * provenance signal worth keeping — the limit case weight→keep-one
    * IS d13's survivor pick). Unclustered documents keep weight 1.0
    * with themselves as representative.
    *
    * Scale shape: `comps` ((id, comp) from [[connectedComponents]])
    * covers only pair-graph members — a few percent of a deduplicated
    * corpus — so the size tally is one comp-keyed count over that small
    * relation and the corpus pays one id-keyed left join (AQE
    * broadcasts the clustered side when it fits). Weight = one exact
    * division, round(6). */
  def duplicateWeights(
      docs: DataFrame,
      comps: DataFrame,
      idCol: String): DataFrame = {
    val sizes = comps.groupBy(col("comp"))
      .agg(count(lit(1)).as("cluster_size"))
    val member = comps.select(col("id").as(idCol), col("comp"))
      .join(sizes, Seq("comp"))
    docs.select(col(idCol))
      .join(member, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("comp"), col(idCol)).as("rep"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        round(lit(1.0) /
          coalesce(col("cluster_size"), lit(1L)).cast("double"), 6)
          .as("weight"))
  }

  /** Connected components over a near-dup pair graph (HashMin label
    * propagation): every node's label converges to the minimum id
    * reachable from it — the canonical "dedup cluster" step that turns
    * pairwise matches into groups with one representative each.
    *
    * Scale shape: O(diameter) iterations, each ONE keyed shuffle
    * (neighbor-min message + label join); near-dup clusters have tiny
    * diameters, so this is a handful of rounds even at 100 TB. The loop
    * is driver-side but each step is fully distributed; `persist` +
    * `unpersist` keeps lineage flat (use checkpointing for
    * adversarially deep graphs). Deterministic fixpoint — exact,
    * whatever the partitioning or iteration count past convergence. */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 25,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    val edges = pairs
      .select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      // pre-partition on the per-round join key (round 15, guide §2.4):
      // the distinct leaves hash(src,dst) partitioning, which does NOT
      // satisfy the round join's hash(src) requirement — without this,
      // every HashMin round re-shuffles the full edge list; with it the
      // cached layout serves all `maxIter` rounds and only the label
      // side moves
      // sized like the other loop pre-partitions (round 16): unsized,
      // AQE materializes the cache at shuffle-BYTE width (2 partitions
      // at sf1) and every HashMin round then runs that narrow
      .repartition(pairs.sparkSession.sessionState.conf.numShufflePartitions,
        col("src"))
      .persist()
    var labels = edges
      .select(col("src").as("id"))
      .distinct()
      .withColumn("comp", col("id"))
      .persist()
    var cached = labels
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      val msgs = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("comp")).as("nbr"))
      // The label update CARRIES its own convergence flag (`__ch` = this
      // round lowered the label), so one count() over the flag both
      // materializes the round's cache AND yields the changed count —
      // ONE job per iteration, versus the old shape's separate
      // old-vs-new join + limit + count job each round.
      val stepped = labels
        .join(msgs, Seq("id"), "left")
        .select(
          col("id"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"),
          coalesce(col("nbr") < col("comp"), lit(false)).as("__ch"))
      // every few rounds, truncate lineage: persist() caches the DATA but
      // the logical plan still deepens linearly with iterations —
      // analysis and task serialization grow per round until the driver
      // chokes on a long-diameter graph. The cut is lazy (eager=false)
      // so the changed-count action below is what materializes it;
      // pass Checkpoint.reliable when executor loss must be survivable
      // mid-computation.
      val next =
        if (iter % 5 == 4) checkpointer.cut(stepped, eager = false)
        else stepped.persist()
      val changed = next.filter(col("__ch")).count()
      cached.unpersist()
      cached = next
      labels = next.drop("__ch")
      converged = changed == 0L
      iter += 1
    }
    edges.unpersist()
    // Cut the iterative lineage before handing the result to callers:
    // each round's logical plan references the previous round TWICE
    // (label join + message join), so the tree doubles per iteration —
    // the data is cached but any downstream persist() renders that tree
    // into Spark's cache name, and a CHAINED call (mergeComponents runs
    // CC over CC output) multiplies the trees: driver OOM on nothing
    // but plan strings. An eager cut pins the final labels as a flat
    // LogicalRDD (one row per clustered node — tiny relative to the
    // pair graph) and lets the loop cache be freed immediately.
    val out = checkpointer.cut(labels, eager = true)
    cached.unpersist()
    out
  }

  /** INCREMENTALLY fold new near-dup pairs into a persisted components
    * relation — the clustering step of the continual-ingest loop
    * (p09/p10 classify a batch, p11 appends it to the index; this
    * keeps the CLUSTER view current without re-running connected
    * components over yesterday's pair graph): collapse the old
    * components to STAR edges (member → representative, which preserve
    * exactly the old connectivity classes at diameter 2), union the
    * new pairs, and run the same HashMin fixpoint.
    *
    * merge(CC(old), new) == CC(old ∪ new) EXACTLY (DedupSpec pins it
    * on randomized graphs; p20 oracle-gates it on the real corpus with
    * a replay blind to the incremental path), because min-reachable-id
    * is determined by connectivity alone and stars preserve
    * connectivity. Cost: the star relation is |clustered docs| rows —
    * NOT the old pair graph, which is typically much larger and is
    * never touched again — and iteration count is bounded by the NEW
    * bridging structure's diameter, not the accumulated graph's. */
  def mergeComponents(
      oldComps: DataFrame,
      newPairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 25,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    val star = oldComps
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idA), col("comp").as(idB))
    connectedComponents(
      star.unionByName(newPairs.select(col(idA), col(idB))),
      idA, idB, maxIter, checkpointer)
  }

  /** Chunk-level exact dedup across the WHOLE corpus (the exact-substring
    * dedup pattern of Lee et al. 2022 at chunk granularity, and C4's
    * repeated-paragraph removal): split every document into disjoint
    * windows of `chunkTokens` tokens, keep only the globally FIRST
    * occurrence of each distinct chunk (ordered by (id, position)), and
    * reassemble each document from its surviving chunks.
    *
    * Scale shape: one narrow chunking pass (posexplode of per-row slices),
    * ONE shuffle keyed by the chunk to pick winners (row_number over a
    * high-cardinality key — no small-key skew), one id-keyed shuffle to
    * reassemble, one id-keyed left join back to the corpus.
    *
    * `hashShuffle = true` is the 100 TB variant: the winner shuffle
    * carries (id, pos, xxhash64(chunk)) — 24-byte rows instead of the
    * chunk text — and the surviving (id, pos) pairs re-attach their text
    * from a second narrow chunking pass joined on (id, pos). Trade-off:
    * a 2^-64 per-pair collision chance silently drops a unique chunk
    * (mode equality asserted on real data in DedupSpec).
    *
    * Returns one row per input row: (id, n_chunks, n_kept, text_dedup) —
    * text_dedup empty when every chunk was seen earlier. */
  def chunkExactDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 20,
      hashShuffle: Boolean = false): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    val n = chunkTokens
    val base = df.select(col(idCol), tokens(col(textCol)).as("__ts"))
      .withColumn("__nc", ceil(size(col("__ts")).cast("double") / n).cast("int"))
    def chunksOf(b: DataFrame): DataFrame = b.select(
      col(idCol), col("__nc"),
      // guard: sequence(0, -1) is the DESCENDING [0, -1] in Spark, not []
      posexplode_outer(
        when(col("__nc") === 0, array().cast("array<string>")).otherwise(
          transform(
            sequence(lit(0), col("__nc") - 1),
            i => array_join(slice(col("__ts"), i * n + 1, lit(n)), " ")))))
      .withColumnRenamed("pos", "__pos")
      .withColumnRenamed("col", "__chunk")
      .filter(col("__chunk").isNotNull)
    val chunked = chunksOf(base)
    val survivors =
      if (!hashShuffle) {
        val keptW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__chunk"))
          .orderBy(col(idCol), col("__pos"))
        chunked
          .withColumn("__rn", row_number().over(keptW))
          .filter(col("__rn") === 1)
      } else {
        // winner shuffle moves only (id, pos, 8-byte chunk hash); text is
        // re-attached to the (sparse) winners by an (id, pos) equi-join
        // against a recomputed narrow chunking pass
        val keptW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__ck"))
          .orderBy(col(idCol), col("__pos"))
        val winners = chunked
          .select(col(idCol), col("__pos"), xxhash64(col("__chunk")).as("__ck"))
          .withColumn("__rn", row_number().over(keptW))
          .filter(col("__rn") === 1)
          .select(col(idCol), col("__pos"))
        winners.join(chunksOf(base), Seq(idCol, "__pos"))
      }
    val kept = survivors
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__chunk")))),
            s => s("__chunk")),
          " ").as("text_dedup"))
    base.select(col(idCol), col("__nc").cast("long").as("n_chunks"))
      .join(kept, Seq(idCol), "left")
      .select(
        col(idCol), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Duplicated-SUBSTRING span profile — the stride-1 complement of
    * [[chunkExactDedup]] (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", at rolling-window granularity):
    * every length-`windowTokens` token window of every document, at
    * EVERY offset, is checked for an exact repeat anywhere in the corpus
    * (another document or another offset of the same one). Overlapping
    * duplicated windows then merge into maximal duplicated SPANS per
    * document (two windows bridge while their token ranges touch, i.e.
    * position gap <= window length), so the output measures how much of
    * each document is covered by text that exists verbatim elsewhere —
    * the signal Lee et al. act on with suffix arrays. A suffix array is
    * the wrong shape for a shared-nothing engine; hashed rolling windows
    * are the distributable equivalent with the same detection power for
    * repeats >= `windowTokens` tokens.
    *
    * Scale shape: windows never materialize text off the scan — each
    * reduces in-scan to `xxhash64` of its joined tokens, so the repeat
    * shuffle carries (id, pos, hash) ~20-byte rows, one per corpus token
    * (the inherent cost of substring-level exactness; 2^-64 per-pair
    * false merges, same trade as [[chunkExactDedup]]'s hashShuffle).
    * TWO keyed shuffles total: one partitioned by window hash (a
    * full-partition count marks repeats — high-cardinality key, no skew
    * worse than the corpus's own repetition), one by document id for the
    * gaps-and-islands span merge. No joins on the hot path; the per-doc
    * totals re-attach with two id-keyed left joins against per-doc
    * aggregates (sparse — only docs with repeats).
    *
    * Returns one row per document: (id, n_tokens, n_windows,
    * n_dup_windows, n_spans, dup_tokens) — all exact counts;
    * `dup_tokens / n_tokens` is the duplicated-mass fraction to filter
    * on. */
  /** (id, __ts tokens, __nt token count, __nw window count) — the
    * per-document base every span operator builds on. */
  private def spanBase(df: DataFrame, idCol: String, textCol: String, L: Int): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__ts"))
      .withColumn("__nt", size(col("__ts")).cast("long"))
      .withColumn("__nw", greatest(col("__nt") - (L - 1), lit(0L)))

  /** One row per stride-1 window: (id, __p position, __h xxhash64 of the
    * joined window tokens) — the text never leaves the scan. */
  private def spanWindows(base: DataFrame, idCol: String, L: Int): DataFrame =
    base
      .select(
        col(idCol),
        posexplode_outer(
          when(col("__nw") <= 0, array().cast("array<long>")).otherwise(
            transform(
              sequence(lit(0L), col("__nw") - 1),
              i => xxhash64(array_join(slice(col("__ts"), (i + 1).cast("int"), lit(L)), " "))))))
      .withColumnRenamed("pos", "__p")
      .withColumnRenamed("col", "__h")
      .filter(col("__h").isNotNull)

  /** Fold duplicated-window positions `dup` = (id, __p) into the per-doc
    * span profile over `base`: gaps-and-islands merge (windows bridge
    * while their token ranges touch), then one id-keyed aggregate,
    * re-attached sparsely to every base row. */
  private def spanProfile(
      base: DataFrame, dup: DataFrame, idCol: String, L: Int): DataFrame = {
    val ordW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__p"))
    val spans = dup
      .withColumn(
        "__brk",
        when(col("__p") - lag(col("__p"), 1).over(ordW) <= L, lit(0)).otherwise(lit(1)))
      .withColumn("__g", sum(col("__brk")).over(ordW))
      .groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__nd"), min(col("__p")).as("__s"), max(col("__p")).as("__me"))
      .withColumn("__e", col("__me") + (L - 1))
    val perDoc = spans
      .groupBy(col(idCol))
      .agg(
        sum(col("__nd")).as("n_dup_windows"),
        count(lit(1)).as("n_spans"),
        sum(col("__e") - col("__s") + 1).as("dup_tokens"))
    base
      .select(col(idCol), col("__nt").as("n_tokens"), col("__nw").as("n_windows"))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val L = windowTokens
    val base = spanBase(df, idCol, textCol, L)
    val wins = spanWindows(base, idCol, L)
    // repeat mark: full-partition count over the hash — ONE shuffle, no
    // join-back (the count rides the same exchange the filter reads)
    val repeatW = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    val dup = wins
      .withColumn("__c", count(lit(1)).over(repeatW))
      .filter(col("__c") > 1)
      .select(col(idCol), col("__p"))
    spanProfile(base, dup, idCol, L)
  }

  /** The ACTION variant of [[duplicatedSpans]] — Lee et al. 2022's
    * actual transform: every repeated window occurrence EXCEPT the
    * globally first (lexicographic (id, position), the same
    * first-owner-wins order as [[chunkExactDedup]]) marks its token
    * range for removal; overlapping marked ranges merge into maximal
    * spans per document, the covered tokens are cut, and each document
    * is reassembled from what remains. A first occurrence is never
    * marked by its own window — though a span merged from OTHER repeats
    * in the same document can still cover its tokens, the
    * window-granularity analogue of the merged byte-range cuts Lee et
    * al.'s suffix-array remover also makes. Window granularity rounds
    * removal up to span boundaries (adjacent non-repeated tokens inside
    * a merged span are cut with it); repeats shorter than
    * `windowTokens` are invisible, exactly as in [[duplicatedSpans]].
    *
    * Scale shape: same two keyed shuffles as [[duplicatedSpans]] (the
    * hash-partition window now also sorts by (id, pos) to rank
    * occurrences). Removal never explodes tokens: per-doc merged spans
    * collect into one small array column (docs with repeats only), an
    * id-keyed join attaches them to the corpus rows (AQE broadcasts the
    * span side when it is small; at full scale this is one id-keyed
    * shuffle — proportional to the rewritten output, the same
    * reassembly cost [[chunkExactDedup]] pays), and a higher-order
    * filter drops covered positions in-row.
    *
    * Returns one row per document: (id, n_tokens, n_removed,
    * text_dedup) — `text_dedup` is the surviving text, empty when the
    * whole document was marked. */
  def removeDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val L = windowTokens
    val base = spanBase(df, idCol, textCol, L)
    val wins = spanWindows(base, idCol, L)
    // rank occurrences within each window hash: rank 1 = global first
    // occurrence (by (id, pos)) = the survivor; everything later is cut
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col(idCol), col("__p"))
    val repeats = wins
      .withColumn("__rn", row_number().over(rankW))
      .filter(col("__rn") > 1)
      .select(col(idCol), col("__p"))
    cutSpans(base, repeats, idCol, L)
  }

  /** Fold marked window positions `marked` = (id, __p) into merged
    * spans and cut the covered tokens out of every `base` document —
    * the shared reassembly of [[removeDuplicatedSpans]] (marks = later
    * occurrences) and [[removeCrossCorpusSpans]] (marks = windows
    * present in another corpus). Returns (id, n_tokens, n_removed,
    * text_dedup). */
  private def cutSpans(
      base: DataFrame, marked: DataFrame, idCol: String, L: Int): DataFrame = {
    val ordW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__p"))
    val spans = marked
      .withColumn(
        "__brk",
        when(col("__p") - lag(col("__p"), 1).over(ordW) <= L, lit(0)).otherwise(lit(1)))
      .withColumn("__g", sum(col("__brk")).over(ordW))
      .groupBy(col(idCol), col("__g"))
      .agg(min(col("__p")).as("__s"), max(col("__p")).as("__me"))
      .select(col(idCol), struct(col("__s"), (col("__me") + (L - 1)).as("__e")).as("__sp"))
      .groupBy(col(idCol))
      .agg(collect_list(col("__sp")).as("__spans"))
    base
      .join(spans, Seq(idCol), "left")
      .select(
        col(idCol), col("__nt").as("n_tokens"),
        filter(
          zip_with(
            col("__ts"),
            // guard: sequence(0, -1) is the DESCENDING [0, -1], and
            // zip_with pads the shorter side with nulls — an empty doc
            // must produce an empty position list, not two null slots
            when(col("__nt") === 0, array().cast("array<long>"))
              .otherwise(sequence(lit(0L), col("__nt") - 1)),
            (t, i) => struct(t.as("__t"), i.as("__i"))),
          ti => coalesce(
            !exists(
              col("__spans"),
              sp => ti("__i") >= sp("__s") && ti("__i") <= sp("__e")),
            lit(true))).as("__kept"))
      .select(
        col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("__kept"))).as("n_removed"),
        array_join(transform(col("__kept"), ti => ti("__t")), " ").as("text_dedup"))
  }

  /** CROSS-CORPUS span removal — the GPT-3-style decontamination
    * transform: cut from every `batch` (evaluation) document each span
    * whose `windowTokens`-token windows appear verbatim anywhere in
    * `corpus` (training data), then reassemble the surviving text.
    * [[crossCorpusOverlap]] counts the leakage; this REMOVES it, so a
    * benchmark can be kept rather than discarded when only fragments
    * leak. Detection is window-exact (repeats shorter than
    * `windowTokens` are invisible; cutting rounds up to merged span
    * boundaries — the same trades as [[removeDuplicatedSpans]]).
    *
    * Scale shape: the corpus reduces in-scan to DISTINCT 8-byte window
    * hashes; the (small) eval side's windows join them on the hash —
    * one keyed shuffle each side, the corpus never materializes text
    * off the scan; the cut is the in-row higher-order filter. For a
    * REUSABLE corpus window set, persist it once with
    * [[writeSpanIndex]] and mark eval windows via [[probeSpanIndex]]'s
    * table instead. */
  def removeCrossCorpusSpans(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val L = windowTokens
    val base = spanBase(batch, idCol, textCol, L)
    val corpusH =
      spanWindows(spanBase(corpus, idCol, textCol, L), idCol, L)
        .select(col("__h")).distinct()
    val marked = spanWindows(base, idCol, L)
      .join(corpusH, Seq("__h"))
      .select(col(idCol), col("__p"))
    cutSpans(base, marked, idCol, L)
  }

  /** Benchmark decontamination: for every training document, count the
    * distinct k-token shingles it shares with any evaluation document.
    * Returns (train_id, eval_id, n_shared) pairs — downstream either
    * drops trains over a threshold or audits per-benchmark leakage.
    *
    * Scale shape: both sides reduce to (id, xxhash64(shingle)) — the
    * shuffle carries 16-byte pairs, never the text — then ONE equi-join
    * keyed by the 64-bit shingle hash and one keyed count. The eval side
    * (benchmarks: thousands of docs) is broadcast by AQE against a 100 TB
    * train side; shingle distinctness per doc bounds fan-out. */
  def crossCorpusOverlap(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3): DataFrame = {
    def grams(df: DataFrame, out: String): DataFrame = df
      .filter(trim(col(textCol)) =!= "")
      .select(
        col(idCol).as(out),
        explode(wordShingles(col(textCol), shingleSize)).as("__g"))
      .select(col(out), xxhash64(col("__g")).as("__h"))
    grams(train, "train_id")
      .join(grams(eval, "eval_id"), Seq("__h"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The DELIVERABLE of decontamination — the per-eval-document verdict
    * the GPT-3/PaLM appendices report: for every evaluation document,
    * the fraction of its distinct k-token shingles that occur ANYWHERE
    * in the training corpus, plus the contaminated flag at `threshold`
    * (GPT-3 dropped eval examples with high n-gram overlap; the flag is
    * what a benchmark-hygiene report ships). Complements
    * [[crossCorpusOverlap]], which attributes overlap to train docs
    * pairwise — here the train side collapses to a distinct hash SET, so
    * cost is independent of how many train docs repeat a shingle.
    *
    * Columns: eval_id, n_shingles, n_seen, overlap_frac (6 dp),
    * contaminated.
    *
    * Scale shape: the train side reduces in-scan to distinct 8-byte
    * hashes (partial distinct before the one hash-keyed exchange); the
    * eval side is (id, hash) pairs; one LEFT OUTER join keyed by the
    * hash marks seen shingles (the train set is distinct, so the join
    * never fans out) and one eval-id-keyed count folds the verdict.
    * Nothing ever carries text past its scan, and the contaminated flag
    * compares scaled INTEGERS (n_seen * 1e6 >= thresholdMicros *
    * n_shingles) so the cutoff is exact under any partitioning. */
  def contaminationReport(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(threshold >= 0 && threshold <= 1,
      s"threshold must be in [0,1]; got $threshold")
    val thresholdMicros = math.round(threshold * 1e6)
    def grams(df: DataFrame, out: String): DataFrame = df
      .filter(trim(col(textCol)) =!= "")
      .select(
        col(idCol).as(out),
        explode(wordShingles(col(textCol), shingleSize)).as("__g"))
      .select(col(out), xxhash64(col("__g")).as("__h"))
    val trainSet = grams(train, "__tid")
      .select(col("__h")).distinct()
      .withColumn("__seen", lit(1L))
    grams(eval, "eval_id")
      .join(trainSet, Seq("__h"), "left")
      .groupBy(col("eval_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__seen"), lit(0L))).as("n_seen"))
      .select(
        col("eval_id"), col("n_shingles"), col("n_seen"),
        round(col("n_seen").cast("double") / col("n_shingles"), 6)
          .as("overlap_frac"),
        (col("n_seen") * lit(1000000L) >=
          lit(thresholdMicros) * col("n_shingles")).as("contaminated"))
  }

  /** Self-scaling LSH signature width: the smallest p in [minP, maxP]
    * whose 2^p buckets per table keep the EXPECTED bucket occupancy at
    * or under `targetBucket` rows (`targetBucket * 2^p >= n`). A fixed
    * signature width is the hidden quadratic in banded hyperplane LSH:
    * 10x rows into the same 2^p buckets is 10x occupancy and ~100x
    * in-bucket candidate pairs (the r13 sf1 envelope measured exactly
    * that on d06: exponent 1.43). With p growing as log2(n), occupancy
    * — and therefore candidate pairs PER ROW — stays constant, so the
    * candidate stage is O(n * targetBucket) at every corpus size.
    * Pure integer arithmetic (no float log2) so a DuckDB oracle can
    * recompute the identical width from count(*): p = the smallest k
    * with targetBucket * 2^k >= n, clamped to [minP, maxP].
    *
    * Widening p changes RECALL, not correctness: each table's collision
    * probability is (1 - angle/pi)^p, so auto-width trades recall for
    * the constant-occupancy guarantee exactly the way published banded
    * LSH does (Broder 1997's band tuning) — callers wanting a fixed
    * operating point pass `planesPerTable` explicitly. */
  def autoPlanes(
      n: Long,
      targetBucket: Long = 64L,
      minP: Int = 6,
      maxP: Int = 16): Int = {
    require(n >= 0 && targetBucket >= 1 && minP >= 1 && maxP >= minP &&
      maxP <= 62, s"bad autoPlanes params: n=$n bucket=$targetBucket")
    // ceil(n / targetBucket) via division — `targetBucket * (1L << k)`
    // can wrap negative for permitted maxP (up to 62), which would read
    // the predicate false and silently widen p to maxP
    val buckets = n / targetBucket + (if (n % targetBucket == 0L) 0L else 1L)
    (0 to maxP).find(k => (1L << k) >= buckets)
      .getOrElse(maxP).max(minP).min(maxP)
  }

  /** Embedding near-dup via random-hyperplane LSH with OR-amplification:
    * `nTables` independent hash tables of `planesPerTable` sign bits each.
    * A pair is a candidate if it collides in ANY table (recall
    * `1-(1-p^planes)^tables`, p = 1 - angle/pi), then verified with exact
    * cosine. The signature explode carries ONLY (id, table, signature) —
    * the vectors move exactly twice, in the two id-keyed verify joins —
    * so shuffle bytes stay O(rows x tables x 24B) + 2x vector payload
    * instead of (tables x vector) payload. One shuffle keyed by
    * (table, signature); candidates never approach n^2 — provided
    * `planesPerTable` grows with the corpus ([[autoPlanes]]): a fixed
    * width re-densifies buckets linearly with n. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      planesPerTable: Int = 6,
      nTables: Int = 6,
      seed: Long = 42L): DataFrame = {
    val vecs = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val tableSigs = (0 until nTables).map { t =>
      val planes =
        VectorFunctions.seededPlanes(planesPerTable, dim, seed + 7919L * t)
      struct(
        lit(t).as("tbl"),
        VectorFunctions.hyperplaneSignature(col("__v"), planes).as("sig"))
    }
    val sigd = vecs
      .select(col(idCol), explode(array(tableSigs: _*)).as("__t"))
      .select(col(idCol), col("__t.tbl"), col("__t.sig"))
    val candidates = sigd
      .select(col("tbl"), col("sig"), col(idCol).as("id_a"))
      .join(sigd.select(col("tbl"), col("sig"), col(idCol).as("id_b")), Seq("tbl", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    candidates
      .join(vecs.select(col(idCol).as("id_a"), col("__v").as("__va")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col("__v").as("__vb")), Seq("id_b"))
      .withColumn("cosine", round(VectorFunctions.cosine(col("__va"), col("__vb")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Embedding-space benchmark decontamination — the semantic
    * counterpart of [[crossCorpusOverlap]]: (train, eval) pairs whose
    * vectors collide in ANY of `nTables` random-hyperplane tables,
    * verified with exact cosine >= `threshold`. Catches paraphrased or
    * translated leakage that n-gram overlap misses.
    *
    * Scale shape: identical to [[embeddingNearDupPairs]] but across two
    * relations — signature rows carry ids only, the candidate join is
    * keyed by (table, signature), and vectors move exactly twice in the
    * two id-keyed verify joins. The eval side (the benchmark) is
    * typically tiny, so its signature relation and vector relation both
    * broadcast under AQE — the train corpus never shuffles at all in
    * that regime. */
  def embeddingDecontaminate(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      planesPerTable: Int = 6,
      nTables: Int = 6,
      seed: Long = 42L): DataFrame = {
    def prep(df: DataFrame, out: String, vout: String) = {
      val vecs = df.select(col(idCol).as(out), col(vecCol).cast("array<double>").as(vout))
      val tableSigs = (0 until nTables).map { t =>
        val planes =
          VectorFunctions.seededPlanes(planesPerTable, dim, seed + 7919L * t)
        struct(
          lit(t).as("tbl"),
          VectorFunctions.hyperplaneSignature(col(vout), planes).as("sig"))
      }
      val sigd = vecs
        .select(col(out), explode(array(tableSigs: _*)).as("__t"))
        .select(col(out), col("__t.tbl"), col("__t.sig"))
      (vecs, sigd)
    }
    val (tv, ts) = prep(train, "train_id", "__vt")
    val (ev, es) = prep(eval, "eval_id", "__ve")
    val candidates = ts
      .join(es, Seq("tbl", "sig"))
      .select(col("train_id"), col("eval_id"))
      .distinct()
    candidates
      .join(tv, Seq("train_id"))
      .join(ev, Seq("eval_id"))
      .withColumn("cosine", round(VectorFunctions.cosine(col("__vt"), col("__ve")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("train_id"), col("eval_id"), col("cosine"))
  }
}
