package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.UnigramOps
import graft.functions.expressions.UnigramOps.Params
import graft.operators.Unigram

/** Unigram-LM tokenizer: the distributed Viterbi-EM learner against its
  * independent sequential twin, segmentation semantics, and the count
  * face — the [[BpeSpec]] discipline for the second subword family. */
class UnigramSpec extends SparkSpec {

  import spark.implicits._

  private val corpus = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat ate the hat"),
    (3L, "a cat and a hat and a mat"),
    (4L, "the the the cat cat hat"),
    (5L, "cats hate mats and hats"),
    (6L, "")
  ).toDF("doc_id", "text")

  /** Twin-side pretoken counts via the same pretokenizer. */
  private def pretokenCounts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.select(explode(graft.functions.TextFunctions.bpeTokens(col("text"))).as("pt"))
      .groupBy("pt").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("learnVocab equals the sequential twin exactly (several parameterizations)") {
    val counts = pretokenCounts(corpus)
    for (p <- Seq(
        Params(maxPieceLen = 4, minCount = 2L, seedSize = 40, emIters = 2, vocabSize = 48),
        Params(maxPieceLen = 6, minCount = 1L, seedSize = 100, emIters = 0, vocabSize = 200),
        Params(maxPieceLen = 3, minCount = 3L, seedSize = 10, emIters = 3, vocabSize = 24))) {
      val dist = Unigram.learnVocab(corpus, "doc_id", "text", p)
      val twin = UnigramOps.trainLocal(counts, p)
      assert(dist == twin, s"learner diverged from twin at $p")
      assert(dist.nonEmpty && dist.map(_._1).distinct.size == dist.size)
      // sorted by piece in code-point order; every score strictly negative
      assert(dist.map(_._1) ==
        dist.map(_._1).sorted(graft.functions.expressions.BpeOps.codePointOrdering))
      assert(dist.forall(_._2 < 0L))
      // coverage: every single code point of the corpus is in the vocab
      val singles = counts.keysIterator
        .flatMap(w => UnigramOps.slices(w, 1)).toSet
      assert(singles.subsetOf(dist.map(_._1).toSet))
    }
  }

  test("learnVocab is bit-identical under repartitioning") {
    val p = Params(maxPieceLen = 4, minCount = 2L, seedSize = 40, emIters = 2, vocabSize = 48)
    assert(Unigram.learnVocab(corpus.repartition(7), "doc_id", "text", p) ==
      Unigram.learnVocab(corpus, "doc_id", "text", p))
  }

  test("segment: max-likelihood with longest-piece tie-break; UNK singles; twin DP agrees") {
    val vocab = Seq(
      ("a", -5000000000L), ("b", -5000000000L), ("c", -5000000000L),
      ("ab", -6000000000L), ("bc", -6000000000L), ("abc", -7000000000L))
    val t = UnigramOps.table(vocab)
    // single piece beats any split ("abc" -7 vs "ab"+"c" -11 vs "a"+"bc" -11)
    assert(UnigramOps.segment("abc", t).toSeq == Seq("abc"))
    // tie between "ab"+"ab" and "a"+"b"+"ab" etc: best is ab+ab (-12)
    assert(UnigramOps.segment("abab", t).toSeq == Seq("ab", "ab"))
    // unknown single cp competes as UNK
    assert(UnigramOps.segment("axb", t).toSeq == Seq("a", "x", "b"))
    assert(UnigramOps.segment("", t).toSeq == Seq.empty)
    // equal-score tie prefers the LONGER final piece: score("ab") chosen
    // equal to "a"+"b" exactly
    val tie = UnigramOps.table(Seq(
      ("a", -3000000000L), ("b", -3000000000L), ("ab", -6000000000L)))
    assert(UnigramOps.segment("ab", tie).toSeq == Seq("ab"))
    // the independent twin DP produces the identical segmentation on
    // every pretoken of a seeded random corpus under a random vocab
    val rnd = new scala.util.Random(42)
    val alphabet = "abcd"
    for (_ <- 1 to 300) {
      val w = Seq.fill(1 + rnd.nextInt(10))(alphabet(rnd.nextInt(4))).mkString
      val pieces = (UnigramOps.slices(w, 3).distinct ++ Seq("a", "b", "c", "d"))
        .distinct.filter(_ => rnd.nextBoolean()) ++ Seq("a", "b", "c", "d")
      val v = pieces.distinct
        .map(p => p -> (-1000000000L * (1 + rnd.nextInt(20)).toLong))
      assert(UnigramOps.segment(w, UnigramOps.table(v)).toSeq ==
        UnigramOps.segmentLocal(w, v.toMap),
        s"DP divergence on '$w' under $v")
    }
  }

  test("tokenCounts: hand-checked counts, empty docs at 0, duplicate ids aggregate") {
    val vocab = Seq(
      (" ", -2000000000L), ("a", -2000000000L), ("c", -2000000000L),
      ("t", -2000000000L), ("h", -2000000000L), ("e", -2000000000L),
      (" cat", -3000000000L), (" hat", -3000000000L))
    val docs = Seq(
      (1L, "cat cat"),   // "cat" (c,a,t) = 3, " cat" = 1 → 4
      (2L, ""),          // 0
      (3L, "hat")        // h,a,t → 3
    ).toDF("doc_id", "text")
    val got = Unigram.tokenCounts(docs, "doc_id", "text", vocab)
      .orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == Seq(1L -> 4L, 2L -> 0L, 3L -> 3L), got.toString)
    val dup = Unigram.tokenCounts(
      docs.union(docs.filter(col("doc_id") === 1L)), "doc_id", "text", vocab)
      .orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(dup == Seq(1L -> 8L, 2L -> 0L, 3L -> 3L))
  }

  test("writeVocab/readVocab round-trips the artifact; corruption fails at load") {
    val p = Params(maxPieceLen = 4, minCount = 2L, seedSize = 40, emIters = 1, vocabSize = 48)
    val vocab = Unigram.learnVocab(corpus, "doc_id", "text", p)
    val dir = tempDir("graft-univocab").toString
    Unigram.writeVocab(spark, vocab, dir)
    assert(Unigram.readVocab(spark, dir) == vocab)
    // counts under the reloaded artifact are bit-identical
    val a = Unigram.tokenCounts(corpus, "doc_id", "text", vocab)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = Unigram.tokenCounts(corpus, "doc_id", "text",
      Unigram.readVocab(spark, dir)).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
    // a corrupted artifact (duplicated piece) fails AT LOAD
    import spark.implicits._
    (vocab ++ vocab.take(1)).toDF("piece", "logp_q")
      .write.mode("overwrite").parquet(dir)
    intercept[IllegalArgumentException] { Unigram.readVocab(spark, dir) }
  }

  test("learn -> count composition runs on the real documents table and is deterministic") {
    val docs = Tables(spark, sf0001).documents
    val p = Params(maxPieceLen = 5, minCount = 5L, seedSize = 80, emIters = 2, vocabSize = 96)
    val vocab = Unigram.learnVocab(docs, "doc_id", "text", p)
    assert(vocab == UnigramOps.trainLocal(pretokenCounts(docs), p),
      "corpus-scale learner diverged from twin")
    val counts = Unigram.tokenCounts(docs, "doc_id", "text", vocab)
    graft.plans.PlanAudit.assertScalable(counts)
    val a = counts.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == Unigram
      .tokenCounts(docs.repartition(13), "doc_id", "text", vocab)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq)
  }

  test("unigram EM per-round work is flat: cached pretoken relation, 1 usage aggregation per round") {
    // the GraphSpec loop-hygiene pin (round 10): the structural claim in
    // the scaladoc — emIters + 1 corpus-relation aggregations TOTAL —
    // made listener-checkable. Without the pretoken persist each EM
    // round re-tokenizes the corpus (extra scan stages per round). AQE
    // off for deterministic stage accounting.
    withConf("spark.sql.adaptive.enabled" -> "false") {
      def run(iters: Int) = countWork {
        Unigram.learnVocab(corpus, "doc_id", "text",
          Params(maxPieceLen = 4, minCount = 2L, seedSize = 40,
            emIters = iters, vocabSize = 48)); ()
      }
      run(1) // settle codegen/JIT
      val (j1, s1) = run(1)
      val (j4, s4) = run(4)
      // per EM round: exactly the usage-aggregation collect
      assert(j4 - j1 == 3, s"driver actions per round: j1=$j1 j4=$j4 (want 1/round)")
      val perRound = (s4 - s1) / 3.0
      assert(perRound <= 3.0,
        s"stages per round: s1=$s1 s4=$s4 perRound=$perRound — corpus re-tokenized?")
    }
  }
}
