package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus-wide TF-IDF term weighting — the classic signature-term /
  * keyword-extraction pass of a text pipeline (Salton & Buckley 1988,
  * smooth-idf variant as popularized by scikit-learn:
  * idf = ln((N+1)/(df+1)) + 1).
  *
  * Plan shape at 100 TB: tokenize+explode is scan-local; tf aggregates on
  * (doc, term) with map-side partials; df reuses the tf relation grouped
  * by term (never re-reads the corpus); the tf-df join co-partitions on
  * `term` (df is already shuffled by term from its own aggregation); the
  * corpus size N broadcasts as a 1-row aggregate. Top-k per doc is a
  * row_number window PARTITIONED by doc — plans as WindowGroupLimit
  * (per-partition partial top-k), never a global sort.
  *
  * Determinism: tfidf = tf * (ln((N+1)/(df+1)) + 1) with the division
  * and product correctly rounded IEEE ops in a fixed order; ties in the
  * ranking (identical (tf, df)) break on the term string, so the output
  * is engine-independent (the t08 oracle replays it in DuckDB).
  */
object TfIdf {

  /** Per-document top-`k` terms by TF-IDF: columns
    * (doc_id, rank, term, tf, df, tfidf). `docFilter` optionally
    * restricts the OUTPUT docs (scores stay corpus-wide). */
  def topTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfRel, "term")
      .crossJoin(broadcast(n))
      .withColumn(
        "tfidf",
        col("tf").cast("double") *
          (log(
            (col("n_docs").cast("double") + lit(1.0)) /
              (col("df").cast("double") + lit(1.0))) + lit(1.0)))
    val filtered = docFilter.fold(scored)(f => scored.filter(f))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    filtered
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Unigram language-model quality score (the CCNet / Wenzek et al.
    * 2020 filter shape, self-trained): score(doc) = mean over the doc's
    * tokens of ln p(token), where p is the corpus's own unigram
    * distribution (count(token) / total tokens). Low scores flag
    * gibberish / rare-token soup; high scores flag boilerplate — the
    * standard keep-the-middle quality cut.
    *
    * Output: (idCol, dl, lm_score rounded to 6) — one row per doc with
    * ≥1 token.
    *
    * Determinism across engines/partitionings: all counts are exact
    * longs; each per-token contribution m_t * ln(c_t / N) is a fixed
    * sequence of IEEE ops; the per-doc reduction folds contributions in
    * SORTED token order (collect + array_sort + left fold — identical
    * association in DuckDB's `list(v ORDER BY term)` + `list_reduce`),
    * and the final round(., 6) absorbs the ≤ 1-ulp libm `ln` spread.
    *
    * Plan shape at 100 TB: tokenize is scan-local; tf aggregates on
    * (doc, term) with map-side partials; corpus counts reuse the tf
    * relation grouped by term (no second corpus read); the total-token
    * count broadcasts as one row; the per-doc fold groups by doc id.
    * Every shuffle is keyed; per-doc state is bounded by doc length. */
  /** Per-group token-distribution drift: KL(P_g || P_corpus) =
    * Σ_t p_g(t) · ln(p_g(t) / p(t)) for each value of `groupCol` — the
    * mixture-diagnostics pass that flags a source/shard whose language
    * has drifted from the corpus (new boilerplate, scraper breakage,
    * domain shift). Always finite: every group token is in the corpus
    * by construction (the corpus distribution is the union of groups).
    *
    * Output: (groupCol, n_tokens, kl rounded to 6), one row per group.
    *
    * Determinism: exact long counts; each term's contribution is a
    * fixed IEEE sequence; the per-group reduction folds in sorted term
    * order; round(., 6) absorbs libm `ln` ulp spread (same contract as
    * [[unigramLmScore]]).
    *
    * Plan shape at 100 TB: (group, term) counts with map-side partials,
    * corpus counts reuse that relation grouped by term, the total
    * broadcasts, and the fold groups by `groupCol`. Per-group state is
    * bounded by the vocabulary, not the corpus. */
  def klDrift(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(groupCol), explode(TextFunctions.tokens(lower(col(textCol)))).as("__t"))
      .groupBy(col(groupCol), col("__t"))
      .agg(count(lit(1)).as("__m"))
    val cts = tf.groupBy(col("__t")).agg(sum(col("__m")).as("__c"))
    val total = cts.agg(sum(col("__c")).as("__n"))
    val groupTotals = tf.groupBy(col(groupCol)).agg(sum(col("__m")).as("__gn"))
    tf.join(cts, Seq("__t"))
      .join(groupTotals, Seq(groupCol))
      .crossJoin(broadcast(total))
      .withColumn("__pg", col("__m").cast("double") / col("__gn").cast("double"))
      .withColumn("__v",
        col("__pg") * log(
          col("__pg") /
            (col("__c").cast("double") / col("__n").cast("double"))))
      .groupBy(col(groupCol), col("__gn").as("n_tokens"))
      .agg(array_sort(collect_list(struct(col("__t"), col("__v")))).as("__tv"))
      .withColumn("kl",
        round(aggregate(col("__tv"), lit(0.0), (acc, e) => acc + e.getField("__v")), 6))
      .select(col(groupCol), col("n_tokens"), col("kl"))
  }

  /** Bigram LM quality scoring — the KenLM-shaped upgrade of
    * [[unigramLmScore]]: mean ln p(w_i | w_{i-1}) per document under the
    * corpus's OWN bigram model (exact-count MLE — every scored bigram
    * came from the corpus, so probabilities are never zero and no
    * smoothing constant leaks into the contract). Context-sensitive
    * repetition and word-salad score visibly lower than under the
    * unigram model, which is why CCNet-style pipelines filter on an
    * n-gram LM rather than token frequencies alone.
    *
    * Scale shape: bigram extraction is scan-local ([[TextFunctions
    * .ngrams]] inside codegen); corpus model = ONE keyed aggregation of
    * (bigram, count) with the prefix marginal derived from it by a
    * second tiny aggregation (vocabulary-sized, never corpus-sized);
    * scoring joins are keyed by bigram/prefix (AQE broadcasts the
    * model side when it fits); the per-doc fold uses the same sorted
    * fixed-order determinism contract as t12 — round(6) over the libm
    * ulp, hash-identical on any partitioning. Docs with fewer than 2
    * tokens have no bigram distribution and emit no row. */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol), TextFunctions.tokens(lower(col(textCol))).as("__ts"))
      .filter(size(col("__ts")) >= 2)
    val bg = toks
      .select(col(idCol), (size(col("__ts")) - 1).cast("long").as("nb"),
        explode(TextFunctions.ngrams(col("__ts"), 2)).as("__g"))
      .groupBy(col(idCol), col("nb"), col("__g"))
      .agg(count(lit(1)).as("__m"))
    val cbig = bg.groupBy(col("__g")).agg(sum(col("__m")).as("__cb"))
    val cpre = cbig
      .select(substring_index(col("__g"), " ", 1).as("__w"), col("__cb"))
      .groupBy(col("__w")).agg(sum(col("__cb")).as("__cp"))
    bg.join(cbig, Seq("__g"))
      .withColumn("__w", substring_index(col("__g"), " ", 1))
      .join(cpre, Seq("__w"))
      .withColumn("__v",
        col("__m").cast("double") *
          log(col("__cb").cast("double") / col("__cp").cast("double")))
      .groupBy(col(idCol), col("nb"))
      .agg(array_sort(collect_list(struct(col("__g"), col("__v")))).as("__gv"))
      .withColumn("lm2_score",
        round(
          aggregate(col("__gv"), lit(0.0), (acc, e) => acc + e.getField("__v")) /
            col("nb").cast("double"),
          6))
      .select(col(idCol), col("nb").as("n_bigrams"), col("lm2_score"))
  }

  /** Stupid-backoff trigram scoring (Brants et al., EMNLP 2007 §4 — the
    * smoothing DESIGNED for distributed corpus-count LMs: no discount
    * mass bookkeeping, just raw relative frequencies with a fixed 0.4
    * backoff penalty, which at web scale matches Kneser-Ney quality at
    * a fraction of the cost). Unlike [[bigramLmScore]] this is a
    * HELD-OUT face: the model counts come from `train`, the scored
    * documents from `eval`, so unseen trigrams genuinely occur and the
    * backoff chain genuinely fires:
    *
    *   S(w3 | w1 w2) = c(w1w2w3)/c(w1w2)            if c(w1w2w3) > 0
    *                 | 0.4 * c(w2w3)/c(w2)          else if c(w2w3) > 0
    *                 | 0.4 * (0.4 * c(w3)/N)        else (OOV floor:
    *                     an eval token absent from train scores as a
    *                     single pseudo-count, c(w3) := max(c(w3), 1))
    *
    * Output: (id, n_trigrams, sb_score) — mean ln S per eval document
    * over its trigram positions; docs with < 3 tokens emit no row.
    *
    * Scale shape: the THREE count relations (trigram, bigram, unigram)
    * are each one keyed aggregation over the train scan — exactly the
    * "distributed count tables" of the paper; scoring left-joins the
    * eval trigrams against them on their natural keys (five keyed
    * shuffles, each vocabulary- or eval-sized, never train-corpus-
    * sized; AQE broadcasts any model side that fits) and N broadcasts
    * as a 1-row aggregate. Determinism: every ratio is long/long in
    * IEEE doubles, the multiply grouping alpha*(alpha*(u/N)) is fixed,
    * and the per-doc fold uses the same sorted fixed-order contract as
    * t12/t21 — round(6) over the libm ulp (t23's DuckDB oracle replays
    * the identical arithmetic). */
  def stupidBackoffScore(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      alpha: Double = 0.4): DataFrame = {
    val (uni, big, tri) = lmCounts(train, textCol)
    sbScore(uni, big, tri, eval, idCol, textCol, alpha)
  }

  /** The three stupid-backoff count relations over `train`: unigram
    * (__w, __u), bigram (__g2, __b), trigram (__g3, __t) — each ONE
    * keyed aggregation over the tokenized scan. */
  private def lmCounts(
      train: DataFrame, textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val trainT = train
      .select(TextFunctions.tokens(lower(col(textCol))).as("__ts"))
    val uni = trainT
      .select(explode(col("__ts")).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__u"))
    val big = trainT
      .filter(size(col("__ts")) >= 2)
      .select(explode(TextFunctions.ngrams(col("__ts"), 2)).as("__g2"))
      .groupBy(col("__g2")).agg(count(lit(1)).as("__b"))
    val tri = trainT
      .filter(size(col("__ts")) >= 3)
      .select(explode(TextFunctions.ngrams(col("__ts"), 3)).as("__g3"))
      .groupBy(col("__g3")).agg(count(lit(1)).as("__t"))
    (uni, big, tri)
  }

  /** The stupid-backoff SCORING core over materialized count relations
    * — shared verbatim by the inline face ([[stupidBackoffScore]]) and
    * the persisted-index face ([[scoreWithLmIndex]]), so "append ≡
    * rebuild ≡ inline" is an equality of COUNTS, not of two scoring
    * implementations. */
  private def sbScore(
      uni: DataFrame,
      big: DataFrame,
      tri: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      alpha: Double): DataFrame = {
    val tot = uni.agg(sum(col("__u")).as("__n"))
    val ev = eval
      .select(col(idCol), TextFunctions.tokens(lower(col(textCol))).as("__ts"))
      .filter(size(col("__ts")) >= 3)
      .select(
        col(idCol), (size(col("__ts")) - 2).cast("long").as("ntri"),
        explode(TextFunctions.ngrams(col("__ts"), 3)).as("__g3"))
      .groupBy(col(idCol), col("ntri"), col("__g3"))
      .agg(count(lit(1)).as("__m"))
      .withColumn("__g12", substring_index(col("__g3"), " ", 2))
      .withColumn("__g23", substring_index(col("__g3"), " ", -2))
      .withColumn("__w2", substring_index(col("__g23"), " ", 1))
      .withColumn("__w3", substring_index(col("__g3"), " ", -1))
    val scored = ev
      .join(tri, Seq("__g3"), "left")
      .join(
        big.select(col("__g2").as("__g12"), col("__b").as("__b12")),
        Seq("__g12"), "left")
      .join(
        big.select(col("__g2").as("__g23"), col("__b").as("__b23")),
        Seq("__g23"), "left")
      .join(
        uni.select(col("__w").as("__w2"), col("__u").as("__u2")),
        Seq("__w2"), "left")
      .join(
        uni.select(col("__w").as("__w3"), col("__u").as("__u3")),
        Seq("__w3"), "left")
      .crossJoin(broadcast(tot))
      .withColumn(
        "__s",
        when(col("__t").isNotNull,
          col("__t").cast("double") / col("__b12").cast("double"))
          .when(col("__b23").isNotNull,
            lit(alpha) * (col("__b23").cast("double") / col("__u2").cast("double")))
          .otherwise(
            lit(alpha) * (lit(alpha) *
              (coalesce(col("__u3"), lit(1L)).cast("double") /
                col("__n").cast("double")))))
      .withColumn("__v", col("__m").cast("double") * log(col("__s")))
    scored
      .groupBy(col(idCol), col("ntri"))
      .agg(array_sort(collect_list(struct(col("__g3"), col("__v")))).as("__gv"))
      .withColumn(
        "sb_score",
        round(
          aggregate(col("__gv"), lit(0.0), (acc, e) => acc + e.getField("__v")) /
            col("ntri").cast("double"),
          6))
      .select(col(idCol), col("ntri").as("n_trigrams"), col("sb_score"))
  }

  /** PERSIST the stupid-backoff model as three bucketed count tables —
    * `<table>_uni(__w, __u)`, `<table>_big(__g2, __b)`,
    * `<table>_tri(__g3, __t)`, each bucketed+sorted by its key — the
    * learn-once artifact of the t23 pipeline (the LM sibling of
    * [[graft.operators.Bpe.writeMerges]] and the dedup/IVF indexes).
    * The expensive full-train counting pass is paid at build time;
    * every later scoring run probes the tables with ZERO index-side
    * exchange. */
  def writeLmIndex(
      train: DataFrame,
      textCol: String,
      table: String,
      numBuckets: Int = 32): Unit = {
    val (uni, big, tri) = lmCounts(train, textCol)
    Bucketing.writeBucketed(numBuckets,
      Bucketing.Target(uni, s"${table}_uni", Seq("__w")),
      Bucketing.Target(big, s"${table}_big", Seq("__g2")),
      Bucketing.Target(tri, s"${table}_tri", Seq("__g3")))
  }

  /** APPEND a batch's counts to a persisted LM index. Counts are
    * ADDITIVE, so maintenance here is trivially exact: each append
    * writes the batch's own partial-count rows into the same buckets
    * (one keyed shuffle of the BATCH counts only — existing files
    * untouched), and [[scoreWithLmIndex]] re-aggregates per key at
    * probe time — a bucket-local, exchange-free sum. append ≡ rebuild
    * is long-integer addition associativity, not a property to
    * hand-verify — and p23 still oracle-gates it end-to-end (the
    * replay is blind to the incremental path). Compact on the
    * maintenance cadence with [[Bucketing.compactBucketed]] over the
    * SUMMED relation if probe file counts grow. Single-writer, like
    * every index append. */
  def appendLmIndex(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      textCol: String,
      numBuckets: Int = 32): Unit = {
    val (uni, big, tri) = lmCounts(batch, textCol)
    Bucketing.appendBucketed(uni, s"${table}_uni", Seq("__w"), numBuckets)
    Bucketing.appendBucketed(big, s"${table}_big", Seq("__g2"), numBuckets)
    Bucketing.appendBucketed(tri, s"${table}_tri", Seq("__g3"), numBuckets)
  }

  /** PURGE documents from a persisted LM index WITHOUT a rebuild:
    * counts form an abelian group, so takedown is an append of the
    * purged documents' counts NEGATED — the probe's per-key sums net
    * them out, and a key whose net count reaches zero is filtered out
    * post-sum ([[scoreWithLmIndex]]), making it exactly as absent as a
    * rebuild over the survivors would leave it (purge ≡ rebuild pinned
    * in BucketingSpec). Contrast with the dedup/IVF purges, which must
    * rewrite survivor rows ([[graft.operators.Bucketing
    * .writeBucketed]]): additive state never needs the rewrite. The
    * caller is responsible for purging each document AT MOST once (a
    * double purge would drive net counts negative — same single-writer
    * ledger discipline as every index mutation here); compact the
    * net relation on the maintenance cadence via
    * [[Bucketing.compactBucketed]] over the summed-and-filtered
    * relation to physically drop zeroed keys. */
  def purgeLmIndex(
      spark: SparkSession,
      table: String,
      removed: DataFrame,
      textCol: String,
      numBuckets: Int = 32): Unit = {
    val (uni, big, tri) = lmCounts(removed, textCol)
    Bucketing.appendBucketed(
      uni.withColumn("__u", -col("__u")), s"${table}_uni", Seq("__w"), numBuckets)
    Bucketing.appendBucketed(
      big.withColumn("__b", -col("__b")), s"${table}_big", Seq("__g2"), numBuckets)
    Bucketing.appendBucketed(
      tri.withColumn("__t", -col("__t")), s"${table}_tri", Seq("__g3"), numBuckets)
  }

  /** Score an eval relation against a PERSISTED stupid-backoff index:
    * the [[stupidBackoffScore]] semantics with the model side served
    * from the bucketed tables. The per-key partial-count sums (needed
    * because appends accumulate rows per key) aggregate WITHIN buckets
    * — no exchange, the tables are bucketed by exactly that key — and
    * the five scoring joins shuffle only the EVAL trigrams into the
    * index's bucketing (the d18 span-probe discipline: batch-
    * proportional probe cost, index never moves). Keys whose NET count
    * is zero (fully purged) are dropped post-sum — the backoff chain
    * treats them exactly as never-seen, which is what makes
    * [[purgeLmIndex]] ≡ rebuild. Pinned zero-index-side-exchange in
    * BucketingSpec; value-equal to the inline face by construction
    * (shared [[sbScore]] core over equal counts). */
  def scoreWithLmIndex(
      spark: SparkSession,
      table: String,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      alpha: Double = 0.4): DataFrame = {
    val uni = spark.table(s"${table}_uni")
      .groupBy(col("__w")).agg(sum(col("__u")).as("__u"))
      .filter(col("__u") > 0)
    val big = spark.table(s"${table}_big")
      .groupBy(col("__g2")).agg(sum(col("__b")).as("__b"))
      .filter(col("__b") > 0)
    val tri = spark.table(s"${table}_tri")
      .groupBy(col("__g3")).agg(sum(col("__t")).as("__t"))
      .filter(col("__t") > 0)
    sbScore(uni, big, tri, eval, idCol, textCol, alpha)
  }

  def unigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(
      col(idCol),
      TextFunctions.tokens(lower(col(textCol))).as("__ts"))
    val tf = toks
      .select(col(idCol), size(col("__ts")).cast("long").as("dl"),
        explode(col("__ts")).as("__t"))
      .groupBy(col(idCol), col("dl"), col("__t"))
      .agg(count(lit(1)).as("__m"))
    val cts = tf.groupBy(col("__t")).agg(sum(col("__m")).as("__c"))
    val total = cts.agg(sum(col("__c")).as("__n"))
    tf.join(cts, Seq("__t"))
      .crossJoin(broadcast(total))
      .withColumn("__v",
        col("__m").cast("double") *
          log(col("__c").cast("double") / col("__n").cast("double")))
      .groupBy(col(idCol), col("dl"))
      .agg(array_sort(collect_list(struct(col("__t"), col("__v")))).as("__tv"))
      .withColumn("lm_score",
        round(
          aggregate(col("__tv"), lit(0.0), (acc, e) => acc + e.getField("__v")) /
            col("dl").cast("double"),
          6))
      .select(col(idCol), col("dl"), col("lm_score"))
  }

  /** CCNet-style per-group QUALITY BUCKETS (Wenzek et al. 2020): within
    * every group (per language, the CCNet cut), rank documents by an
    * LM score and split the mass into head / middle / tail terciles —
    * the standard coarse quality label a pretraining mixture samples
    * from ("train mostly on head+middle"). Composes with ANY scorer
    * that yields a deterministic per-document double (t12 unigram, t21
    * bigram, t23 stupid backoff — higher = better).
    *
    * The cuts are VALUE thresholds, not per-document ranks: c1 = the
    * score of the ⌈n/3⌉-th best document, c2 = the ⌈2n/3⌉-th, and a
    * document's bucket is `score ≥ c1 → head`, `≥ c2 → middle`, else
    * tail — so score ties share a bucket (head may slightly exceed n/3
    * on a tie, exactly like CCNet's perplexity-value cuts) and the
    * assignment is reproducible across partitionings.
    *
    * Scale shape: corpus rows pass ONE histogram aggregation keyed
    * (group, quantized score) — map-side partials, state bounded by
    * the quantization grid per group — then rejoin the per-group cut
    * pair by broadcast. The rank-over-histogram window runs on the
    * HISTOGRAM relation (grid-sized), never the corpus; all threshold
    * arithmetic is integer (ceil via `(n+2) div 3`). */
  /** Pairwise corpus-overlap matrix: unigram-vocabulary Jaccard and
    * containment between every pair of groups (sources, snapshots,
    * shards) — the corpus due-diligence readout that catches two
    * "independent" scrapes of the same site or a snapshot that is a
    * strict subset of another, BEFORE they inflate the mixture. t31
    * grades one candidate/reference document pair; this grades the
    * corpus-by-corpus grid.
    *
    * Scale shape: one (group, term)-distinct aggregation collapses the
    * corpus to a vocabulary relation, one term-keyed aggregation packs
    * each term's (sorted, ≤|groups|) group list, and the scan-local
    * ordered-pair expansion INCLUDING the diagonal feeds ONE pair
    * tally — (g,g) counts ARE the per-group vocabulary sizes, (ga<gb)
    * the intersections, so a single aggregation pipeline serves both
    * (its shared exchange is stage-reused across the two readers; a
    * term-keyed self-join would pay the vocab pipeline per side). The
    * complete grid — zero-overlap pairs included — is a groups×groups
    * cross of the tiny size slice left-joined to the intersections.
    * Exact integer counts; two divisions, round(6). */
  def vocabOverlapMatrix(
      docs: DataFrame,
      groupCol: String,
      textCol: String): DataFrame = {
    import graft.functions.Hof.bindOnce
    val vocab = docs
      .select(col(groupCol).as("__g"),
        explode(graft.functions.TextFunctions.tokens(lower(col(textCol))))
          .as("__t"))
      .distinct()
    val pc = vocab
      .groupBy(col("__t"))
      .agg(sort_array(collect_set(col("__g"))).as("__gs"))
      .select(explode(bindOnce(col("__gs")) { gs =>
        flatten(transform(gs, (ga, i) =>
          transform(slice(gs, i + lit(1), size(gs)),
            gb => struct(ga.as("a"), gb.as("b")))))
      }).as("__p"))
      .select(col("__p.a").as("__ga"), col("__p.b").as("__gb"))
      .groupBy(col("__ga"), col("__gb"))
      .agg(count(lit(1)).as("__c"))
    val sizes = pc.filter(col("__ga") === col("__gb"))
      .select(col("__ga").as("__g"), col("__c").as("__n"))
    val inter = pc.filter(col("__ga") < col("__gb"))
      .select(col("__ga"), col("__gb"), col("__c").as("__i"))
    sizes.select(col("__g").as("__ga"), col("__n").as("n_a"))
      // |groups|² grid — bounded by the group count, the one crossJoin
      // class the house allows
      .crossJoin(sizes.select(col("__g").as("__gb"), col("__n").as("n_b")))
      .filter(col("__ga") < col("__gb"))
      .join(inter, Seq("__ga", "__gb"), "left")
      .withColumn("intersection", coalesce(col("__i"), lit(0L)))
      .select(
        col("__ga").as(s"${groupCol}_a"), col("__gb").as(s"${groupCol}_b"),
        col("n_a"), col("n_b"), col("intersection"),
        round(col("intersection").cast("double") /
          (col("n_a") + col("n_b") - col("intersection")).cast("double"), 6)
          .as("jaccard"),
        round(col("intersection").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6)
          .as("containment"))
  }

  /** Distinct-n diversity (Li et al. NAACL'16's "distinct" metric at
    * corpus granularity): per group and n ∈ 1..`maxN`, the number of
    * n-gram TYPES over the number of n-gram TOKENS — low distinct-2/3
    * flags mode collapse in generated corpora and boilerplate floods in
    * scraped ones, the complement of t06's WITHIN-document repetition
    * signals (a corpus of unique documents can still be collectively
    * repetitive; this sees it, t06 cannot).
    *
    * Scale shape: every n-gram order extracts in ONE shared scan
    * (posexplode over the per-n gram arrays — scan-local, no shuffle),
    * then one (group, n, gram)-keyed count with map-side partials and
    * one (group, n) rollup; gram strings shuffle once. Exact integer
    * counts; the ratio is one division, round(6) over the ulp. */
  def distinctN(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      maxN: Int = 3): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN in [1,8], got $maxN")
    val toks = graft.functions.TextFunctions.tokens(lower(col(textCol)))
    val perN = docs
      .select(col(groupCol),
        posexplode(array((1 to maxN).map(n =>
          graft.functions.TextFunctions.ngrams(toks, n)): _*))
          .as(Seq("__p", "__gs")))
      .select(col(groupCol), (col("__p") + 1).as("n"),
        explode(col("__gs")).as("__g"))
    perN
      .groupBy(col(groupCol), col("n"), col("__g"))
      .agg(count(lit(1)).as("__m"))
      .groupBy(col(groupCol), col("n"))
      .agg(
        count(lit(1)).as("types"),
        sum(col("__m")).as("tokens"))
      .withColumn("distinct_ratio",
        round(col("types").cast("double") / col("tokens").cast("double"), 6))
  }

  def perplexityBuckets(
      scored: DataFrame,
      idCol: String,
      groupCol: String,
      scoreCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1L, s"scale must be >= 1, got $scale")
    val base = scored.select(
      col(idCol), col(groupCol), col(scoreCol),
      round(col(scoreCol) * scale.toDouble, 0).cast("long").as("__qs"))
    val hist = base
      .groupBy(col(groupCol), col("__qs"))
      .agg(count(lit(1)).as("__c"))
    val cum = hist.withColumn("__cum",
      sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol))
          .orderBy(col("__qs").desc)))
    val tot = hist.groupBy(col(groupCol)).agg(sum(col("__c")).as("__n"))
    val cuts = cum.join(tot, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        max(when(col("__cum") >= expr("(__n + 2) div 3"), col("__qs")))
          .as("__c1"),
        max(when(col("__cum") >= expr("(2 * __n + 2) div 3"), col("__qs")))
          .as("__c2"))
    base.join(broadcast(cuts), Seq(groupCol))
      .select(col(idCol), col(groupCol), col(scoreCol),
        when(col("__qs") >= col("__c1"), lit("head"))
          .when(col("__qs") >= col("__c2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Term burstiness (Church & Gale 1995): terms ranked by how
    * CLUMPED their occurrences are across documents — burstiness
    * cf/df (mean occurrences per containing doc) and the index of
    * dispersion var/mean over containing docs. Uniform content words
    * sit near 1; template boilerplate and keyword-stuffing spam
    * spike both — the spam tell frequency alone (t08/t13) misses,
    * because a stuffed term can be globally rare.
    *
    * Exact integer moments: one (doc, term) tally, one per-term
    * aggregation of (df, Σm, Σm²); the two ratios are fixed-shape
    * double expressions rounded to 6 (the p08 discipline). `minDf`
    * floors the denominator noise; heads plan as
    * TakeOrderedAndProject. */
  def termBurstiness(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Long,
      topK: Int): DataFrame = {
    require(minDf >= 1 && topK >= 1,
      s"bad burstiness params: minDf=$minDf topK=$topK")
    val tf = docs
      .select(col(idCol).as("__doc"),
        TextFunctions.tokens(lower(col(textCol))).as("__ts"))
      .select(col("__doc"), explode(col("__ts")).as("term"))
      .groupBy(col("__doc"), col("term"))
      .agg(count(lit(1)).as("__m"))
    tf
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("__m")).as("cf"),
        sum(col("__m") * col("__m")).as("__m2"))
      .filter(col("df") >= minDf)
      .select(col("term"), col("df"), col("cf"),
        round(col("cf").cast("double") / col("df").cast("double"), 6)
          .as("burstiness"),
        round(
          ((col("__m2").cast("double") -
            col("cf").cast("double") * col("cf").cast("double") /
              col("df").cast("double")) / col("df").cast("double")) /
            (col("cf").cast("double") / col("df").cast("double")), 6)
          .as("dispersion"))
      .orderBy(col("dispersion").desc, col("term"))
      .limit(topK)
  }

  /** Vocabulary growth curve (Heaps 1978): cumulative distinct types
    * vs cumulative tokens over `buckets` id-ordered corpus prefixes —
    * the sublinearity diagnostic that separates organic text (β≈0.5)
    * from template spam (β→0) or id-like noise (β→1), and sizes
    * tokenizer vocabularies before training one.
    *
    * A term's contribution to every prefix is decided by its FIRST
    * occurrence alone, so the curve needs no per-prefix distinct: one
    * min-bucket aggregation per term, one per-bucket tally, and the
    * cumulative sums come from exploding each of the ≤`buckets` tally
    * rows to its suffix range — never a running window. Bucket
    * boundaries are integer id-range cuts from one min/max aggregate,
    * COLLECTED as two plan literals (one bounded row) so the two
    * downstream corpus passes bucket scan-locally instead of each
    * re-deriving the bounds pass; empty buckets are kept.
    * β = ln(types)/ln(tokens) on the cumulative point, round(6). */
  def vocabGrowthCurve(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    val ts = docs.select(
      col(idCol).cast("long").as("__id"),
      TextFunctions.tokens(lower(col(textCol))).as("__ts"))
    val bounds = ts
      .agg(min(col("__id")).as("__lo"), max(col("__id")).as("__hi"))
      .collect()(0)
    if (bounds.isNullAt(0))
      return (1 to buckets).map(b => (b, 0L, 0L, 0L, None: Option[Double]))
        .toDF("bucket", "cum_docs", "cum_tokens", "cum_types", "heaps_beta")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val withB = ts.withColumn("__b",
      (expr(s"(__id - ${lo}L) * $buckets div (${hi}L - ${lo}L + 1)") + 1L)
        .cast("int"))
    val perDoc = withB
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__docs"), sum(size(col("__ts"))).as("__toks"))
    val firstSeen = withB
      .select(col("__b"), explode(col("__ts")).as("__w"))
      .groupBy(col("__w")).agg(min(col("__b")).as("__fb"))
      .groupBy(col("__fb")).agg(count(lit(1)).as("__types"))
    val dim = (1 to buckets).toDF("bucket")
    val perBucket = dim
      .join(perDoc, col("bucket") === col("__b"), "left")
      .join(firstSeen, col("bucket") === col("__fb"), "left")
      .select(col("bucket"),
        coalesce(col("__docs"), lit(0L)).as("__docs"),
        coalesce(col("__toks"), lit(0L)).as("__toks"),
        coalesce(col("__types"), lit(0L)).as("__types"))
    // suffix-explode the <=buckets tally rows instead of a running
    // window: row b contributes to every cumulative point >= b
    perBucket
      .select(explode(sequence(col("bucket"), lit(buckets))).as("bucket"),
        col("__docs"), col("__toks"), col("__types"))
      .groupBy(col("bucket"))
      .agg(sum(col("__docs")).as("cum_docs"),
        sum(col("__toks")).as("cum_tokens"),
        sum(col("__types")).as("cum_types"))
      .select(col("bucket"), col("cum_docs"), col("cum_tokens"),
        col("cum_types"),
        when(col("cum_tokens") > 1L && col("cum_types") >= 1L,
          round(log(col("cum_types").cast("double")) /
            log(col("cum_tokens").cast("double")), 6)).as("heaps_beta"))
  }

  /** PMI collocation mining (Church & Hanks 1990; the word2phrase pass
    * of Mikolov et al. 2013): adjacent word pairs scored by pointwise
    * mutual information ln(P(ab) / (P(a)·P(b))) — the phrase-detection
    * step that decides which bigrams ("new york") deserve a single
    * token before tokenizer training. `minCount` suppresses the
    * low-frequency PMI explosion (a hapax pair scores huge PMI on
    * noise); top-`topK` by (pmi desc, pair asc).
    *
    * Determinism: counts are exact integers from two keyed tallies;
    * the score is a FIXED-SHAPE sum of logs
    * ln(c_ab) + 2·ln(N) − ln(M) − ln(c_a) − ln(c_b) (never a product
    * that could leave double-exact range), rounded to 6 dp over the
    * libm ulp — the p08 discipline.
    *
    * Scale shape: the corpus is read exactly TWICE — one (a,b)-keyed
    * pair tally and one unigram tally (both map-side partial); every
    * other relation derives from those two vocabulary-bounded
    * aggregates: the corpus totals N and M are their re-aggregated
    * sums (single rows, crossed in), never fresh corpus passes, and
    * unigram counts join back onto the SURVIVING (≥ minCount) pairs
    * only, with AQE broadcasting the vocabulary side when it fits.
    * Heads plan as TakeOrderedAndProject. */
  def pmiCollocations(
      docs: DataFrame,
      textCol: String,
      minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 1 && topK >= 1,
      s"bad collocation params: minCount=$minCount topK=$topK")
    val ts = docs
      .select(TextFunctions.tokens(lower(col(textCol))).as("__ts"))
    val uni = ts.select(explode(col("__ts")).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val pcAll = ts
      .filter(size(col("__ts")) >= 2)
      .select(explode(zip_with(
        slice(col("__ts"), lit(1), size(col("__ts")) - 1),
        slice(col("__ts"), lit(2), size(col("__ts")) - 1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("__p"))
      .select(col("__p.a").as("word_a"), col("__p.b").as("word_b"))
      .groupBy(col("word_a"), col("word_b"))
      .agg(count(lit(1)).as("pair_n"))
    import org.apache.spark.storage.StorageLevel
    val spark = docs.sparkSession
    import spark.implicits._
    // both tallies are vocabulary-bounded: persist them so the five
    // readers (two count joins, two totals, the survivor filter) each
    // read the cached relation instead of re-deriving a corpus pass
    uni.persist(StorageLevel.MEMORY_AND_DISK)
    pcAll.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val pc = pcAll.filter(col("pair_n") >= minCount)
      val nn = uni.agg(sum(col("__c")).as("__nn"))
      val m = pcAll.agg(sum(col("pair_n")).as("__m"))
      val heads = pc
        .join(uni.select(col("__w").as("word_a"), col("__c").as("__ca")),
          Seq("word_a"))
        .join(uni.select(col("__w").as("word_b"), col("__c").as("__cb")),
          Seq("word_b"))
        .crossJoin(nn).crossJoin(m) // two single-row totals
        .select(col("word_a"), col("word_b"), col("pair_n"),
          round(
            log(col("pair_n").cast("double")) +
              lit(2.0) * log(col("__nn").cast("double")) -
              log(col("__m").cast("double")) -
              log(col("__ca").cast("double")) -
              log(col("__cb").cast("double")), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("word_a"), col("word_b"))
        .limit(topK)
        .collect() // bounded by topK — the caches can then be released
      heads.toSeq
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3)))
        .toDF("word_a", "word_b", "pair_n", "pmi")
    } finally {
      pcAll.unpersist(blocking = false)
      uni.unpersist(blocking = false)
      ()
    }
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): damped
    * PageRank over the corpus word-adjacency graph, top-`topK` words
    * by rank — the unsupervised keyword pass that needs no labels and
    * no idf table. Complements t08's TF-IDF (frequency-based) with the
    * graph-centrality view; reference fold surface: Frames computes
    * per-column folds (`src/Frames/Folds.hs`), never a fixpoint.
    *
    * Graph: adjacent-token pairs (window 2) in both orientations,
    * self-pairs dropped, deduplicated — symmetric, so there is NO
    * dangling mass and a round is exactly two jobs (the contribution
    * join-aggregate and the eager lineage cut), with the quantized
    * integer update pr ← teleport + damp·Σ pr(v) div odeg(v) making
    * every round bit-exact (same discipline as
    * [[graft.operators.Graph.pagerankQuantized]]).
    *
    * Scale shape: pair expansion is scan-local (one HOF zip over each
    * token array); the edge distinct is one vocabulary-bounded shuffle;
    * the loop INPUTS (edges+degrees, nodes) are persisted before round
    * one — the g01 lesson — and the per-round plan is one keyed join +
    * one tally with map-side partials over a vocabulary-sized (never
    * corpus-sized) relation. Output heads plan as
    * TakeOrderedAndProject: no global sort. */
  def textRankKeywords(
      docs: DataFrame,
      textCol: String,
      iters: Int,
      topK: Int,
      scale: Long = 1000000L,
      dampNum: Long = 85,
      dampDen: Long = 100,
      checkpointer: Checkpoint = Checkpoint.local): DataFrame = {
    require(iters >= 0 && topK >= 1 && scale > 0 && dampNum >= 0 && dampDen > 0,
      s"bad textrank params: iters=$iters topK=$topK scale=$scale damp=$dampNum/$dampDen")
    import org.apache.spark.storage.StorageLevel
    val ts = docs
      .select(TextFunctions.tokens(lower(col(textCol))).as("__ts"))
      .filter(size(col("__ts")) >= 2)
    val pairs = ts
      .select(explode(zip_with(
        slice(col("__ts"), lit(1), size(col("__ts")) - 1),
        slice(col("__ts"), lit(2), size(col("__ts")) - 1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
    val e = pairs
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // symmetric graph: every node is a source, no dangling mass
    val nodes = e.select(col("a").as("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ew = e.join(
      e.groupBy(col("a")).agg(count(lit(1)).as("odeg")), Seq("a"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val teleport = (dampDen - dampNum) * scale / dampDen
      var ranks = nodes.withColumn("pr", lit(scale))
      for (_ <- 0 until iters) {
        val contribs = ew.join(ranks, ew("a") === ranks("node"))
          .select(col("b"), expr("pr div odeg").as("__c"))
          .groupBy(col("b")).agg(sum(col("__c")).as("__c"))
        ranks = checkpointer.cut(
          nodes
            .join(contribs, nodes("node") === contribs("b"), "left")
            .select(col("node"),
              (lit(teleport) +
                expr(s"$dampNum * coalesce(__c, 0L) div $dampDen")).as("pr")),
          eager = true)
      }
      ranks
        .orderBy(col("pr").desc, col("node"))
        .limit(topK)
        .select(col("node").as("word"), col("pr"))
    } finally {
      ew.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      e.unpersist(blocking = false)
      ()
    }
  }
}
