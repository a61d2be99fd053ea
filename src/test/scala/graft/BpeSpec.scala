package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.BpeOps
import graft.operators.Bpe

/** Vocabulary-driven BPE: well-formedness validation, golden encodings,
  * and — the load-bearing check — equivalence of the shipped
  * one-pass-per-rank loop with the reference priority-queue formulation
  * ("repeatedly merge the lowest-ranked adjacent pair") over every
  * distinct pretoken of the test corpus. That equivalence is the theorem
  * the DuckDB oracle's rank-stepping recursive CTE relies on. */
class BpeSpec extends SparkSpec {

  private val tbl = BpeOps.table(Bpe.referenceMerges)

  /** Reference implementation: GPT-2's priority loop — find the
    * minimum-rank adjacent pair, merge ALL its occurrences left to
    * right, repeat until no pair is in the table. */
  private def priorityEncode(s: String): Vector[String] = {
    val ranks = Bpe.referenceMerges.zipWithIndex
      .map { case ((a, b), r) => (a, b) -> r }.toMap
    var syms = s.map(_.toString).toVector
    var continue = syms.length >= 2
    while (continue) {
      val ranked = syms.indices.init
        .flatMap(i => ranks.get((syms(i), syms(i + 1))).map(_ -> i))
      if (ranked.isEmpty) continue = false
      else {
        val bestRank = ranked.map(_._1).min
        val (a, b) = Bpe.referenceMerges(bestRank)
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            out += a + b; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
        continue = syms.length >= 2
      }
    }
    syms
  }

  test("reference merge table is well-formed; malformed tables are rejected") {
    BpeOps.table(Bpe.referenceMerges) // must not throw
    // left part neither a char nor an earlier output
    intercept[IllegalArgumentException] {
      BpeOps.table(Seq("th" -> "e"))
    }
    // duplicate output string
    intercept[IllegalArgumentException] {
      BpeOps.table(Seq("a" -> "b", "a" -> "b"))
    }
  }

  test("golden encodings under the reference vocabulary") {
    assert(BpeOps.encode("the", tbl).toSeq == Seq("the"))
    assert(BpeOps.encode(" the", tbl).toSeq == Seq(" the"))
    assert(BpeOps.encode(" theater", tbl).toSeq == Seq(" the", "at", "er"))
    assert(BpeOps.encode(" with", tbl).toSeq == Seq(" with"))
    assert(BpeOps.encode(" and", tbl).toSeq == Seq(" and"))
    assert(BpeOps.encode("", tbl).isEmpty)
    assert(BpeOps.encode("x", tbl).toSeq == Seq("x"))
  }

  test("bpeEncode column face: sequence matches driver encode; count and concat invariants") {
    // the expression path (codegen) must emit exactly BpeOps.encode's
    // sequence, its length must equal BpeTokenCount, and concatenating
    // the subwords must reassemble the pretoken (losslessness)
    val rows = Tables(spark, "/root/testdata/sf0.001").documents
      .select(explode(graft.functions.TextFunctions.bpeTokens(col("text"))).as("pt"))
      .distinct()
      .select(
        col("pt"),
        BpeOps.bpeEncode(col("pt"), graft.operators.Bpe.referenceMerges).as("toks"),
        BpeOps.bpeMergedCount(col("pt"), graft.operators.Bpe.referenceMerges).as("n"))
      .collect()
    assert(rows.length > 50)
    rows.foreach { r =>
      val pt = r.getString(0)
      val toks = r.getSeq[String](1)
      assert(toks == BpeOps.encode(pt, tbl).toSeq, s"sequence divergence on '$pt'")
      assert(toks.length == r.getInt(2), s"count divergence on '$pt'")
      assert(toks.mkString == pt, s"lossy encode on '$pt'")
    }
  }

  test("one-pass-per-rank equals the priority-queue reference on every corpus pretoken") {
    val pretoks = Tables(spark, "/root/testdata/sf0.001").documents
      .select(explode(graft.functions.TextFunctions.bpeTokens(col("text"))).as("pt"))
      .distinct()
      .collect()
      .map(_.getString(0))
    assert(pretoks.length > 50, s"expected a real vocabulary, got ${pretoks.length}")
    pretoks.foreach { pt =>
      assert(BpeOps.encode(pt, tbl).toSeq == priorityEncode(pt),
        s"divergence on pretoken '$pt'")
    }
  }

  test("sequential == priority for RANDOM well-formed merge tables (seeded property)") {
    // the equivalence theorem the DuckDB oracle rests on, checked beyond
    // the shipped vocabulary: random well-formed tables (each part a
    // single char or an earlier output, outputs unique) over a tiny
    // alphabet (maximizing merge collisions), random strings
    val rnd = new scala.util.Random(20260813L)
    val alphabet = "abc "
    for (trial <- 1 to 200) {
      // grow a random well-formed table
      val formed = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val outputs = scala.collection.mutable.LinkedHashSet[String]()
      val atoms = alphabet.map(_.toString)
      var attempts = 0
      while (formed.size < 12 && attempts < 200) {
        attempts += 1
        def part(): String = {
          val pool = atoms ++ outputs
          pool(rnd.nextInt(pool.size))
        }
        val (a, b) = (part(), part())
        if (!outputs.contains(a + b)) {
          formed += ((a, b))
          outputs += (a + b)
        }
      }
      val merges = formed.toSeq
      val tbl = BpeOps.table(merges) // must validate
      val ranks = merges.zipWithIndex.map { case (m, r) => m -> r }.toMap
      def priority(s: String): Vector[String] = {
        var syms = s.map(_.toString).toVector
        var go = syms.length >= 2
        while (go) {
          val hits = syms.indices.init
            .flatMap(i => ranks.get((syms(i), syms(i + 1))).map(_ -> i))
          if (hits.isEmpty) go = false
          else {
            val (a, b) = merges(hits.map(_._1).min)
            val out = Vector.newBuilder[String]
            var j = 0
            while (j < syms.length) {
              if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
                out += a + b; j += 2
              } else { out += syms(j); j += 1 }
            }
            syms = out.result()
            go = syms.length >= 2
          }
        }
        syms
      }
      val str = Seq.fill(3 + rnd.nextInt(20))(alphabet(rnd.nextInt(alphabet.size))).mkString
      assert(BpeOps.encode(str, tbl).toSeq == priority(str),
        s"trial $trial: divergence on '$str' under $merges")
    }
  }

  test("learnMerges equals a brute-force driver-side learner; output is well-formed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the rat"),
      (3L, "that cat is the best cat"),
      (4L, "rats and cats chat")).toDF("doc_id", "text")
    val n = 10
    val got = Bpe.learnMerges(docs, "doc_id", "text", numMerges = n)
    // the reliable-checkpointer path learns the identical table (the
    // executor-loss-safe strategy changes only where cut blocks live)
    val ckptDir = tempDir("graft-bpe-ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    assert(Bpe.learnMerges(docs, "doc_id", "text", numMerges = n,
      checkpointer = graft.operators.Checkpoint.reliable) == got)
    // brute-force reference: pretoken counts -> repeatedly merge the
    // most frequent adjacent pair (count desc, then (a, b) lexicographic)
    val pat = java.util.regex.Pattern.compile(
      graft.functions.TextFunctions.bpePattern)
    val counts = scala.collection.mutable.Map[Vector[String], Long]()
    docs.collect().foreach { r =>
      val m = pat.matcher(r.getString(1))
      while (m.find())
        counts.updateWith(m.group().map(_.toString).toVector)(
          c => Some(c.getOrElse(0L) + 1L))
    }
    var vocab = counts.toMap
    val want = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val outs = scala.collection.mutable.HashSet[String]()
    var continue = true
    while (want.size < n && continue) {
      val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        syms.indices.init.foreach(i =>
          pairCounts.updateWith((syms(i), syms(i + 1)))(
            p => Some(p.getOrElse(0L) + c)))
      }
      val eligible = pairCounts.filter { case (p, c) =>
        c >= 2L && !outs.contains(p._1 + p._2)
      }
      if (eligible.isEmpty) continue = false
      else {
        val best = eligible.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head._1
        want += best
        outs += (best._1 + best._2)
        vocab = vocab.groupMapReduce { case (syms, _) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == best._1 && syms(j + 1) == best._2) {
              out += best._1 + best._2; j += 2
            } else { out += syms(j); j += 1 }
          }
          out.result()
        }(_._2)(_ + _)
      }
    }
    assert(got == want.toSeq, s"learned $got, reference ${want.toSeq}")
    // learned table is well-formed (validates) and actually compresses
    val learnedTbl = BpeOps.table(got)
    val charCount = docs.collect().map { r =>
      val m = pat.matcher(r.getString(1))
      var k = 0L
      while (m.find()) k += m.group().length
      k
    }.sum
    val tokCount = Bpe.tokenCounts(docs, "doc_id", "text", got)
      .agg(org.apache.spark.sql.functions.sum("n_bpe_tokens"))
      .collect()(0).getLong(0)
    assert(tokCount < charCount, s"learned merges must compress: $tokCount vs $charCount")
    assert(learnedTbl.size == got.size)
  }

  /** Pretoken counts of a docs DataFrame, driver-side (twin input). */
  private def pretokenCounts(docs: org.apache.spark.sql.DataFrame): Map[String, Long] = {
    val pat = java.util.regex.Pattern.compile(
      graft.functions.TextFunctions.bpePattern)
    val counts = scala.collection.mutable.Map[String, Long]()
    docs.select("text").collect().foreach { r =>
      val m = pat.matcher(r.getString(0))
      while (m.find())
        counts.updateWith(m.group())(c => Some(c.getOrElse(0L) + 1L))
    }
    counts.toMap
  }

  test("batched learning equals the identically-parameterized local twin; m=1 equals classic") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and the rat sat too"),
      (2L, "that cat ate the rat that sat on that mat"),
      (3L, "cats and rats and bats chat in the shed"),
      (4L, "the best cat is the cat that sat still")).toDF("doc_id", "text")
    val counts = pretokenCounts(docs)
    for (m <- Seq(1, 4, 16)) {
      val dist = Bpe.learnMerges(docs, "doc_id", "text", numMerges = 12,
        batchSize = m, candidateLimit = 64)
      val local = BpeOps.learnMergesLocal(counts, numMerges = 12,
        batchSize = m, candidateLimit = 64)
      assert(dist == local, s"batchSize=$m: distributed $dist != twin $local")
      BpeOps.table(dist) // well-formed whatever the batch size
    }
    // m=1 IS classic sequential training (same function, batch degenerate)
    assert(
      BpeOps.learnMergesLocal(counts, numMerges = 12, batchSize = 1) ==
        BpeOps.learnMergesLocal(counts, numMerges = 12),
      "batchSize=1 must equal the classic default")
  }

  test("batched learning reaches a 256-merge vocabulary in few rounds") {
    import spark.implicits._
    // The driver's synthetic documents draw from ~40 distinct words, so
    // training EXHAUSTS at ~132 merges (every word fully merged — the
    // correct fixed point, asserted by the twin-equality test above).
    // A 256-merge run needs a richer corpus: seeded pseudo-words over a
    // 12-letter alphabet, Zipf-ish repetition so pair counts stratify.
    val rnd = new scala.util.Random(20260813L)
    val alphabet = "etaonirshdlc"
    val lexicon = Vector.fill(600)(
      (0 until (3 + rnd.nextInt(8))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val docs = (1L to 200L).map { id =>
      val words = (0 until 40).map { _ =>
        // Zipf-ish: low ranks picked far more often
        val r = math.min(lexicon.size - 1, (math.pow(rnd.nextDouble(), 3) * lexicon.size).toInt)
        lexicon(r)
      }
      (id, words.mkString(" "))
    }.toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val learned = Bpe.learnMerges(docs, "doc_id", "text", numMerges = 256,
      batchSize = 32, candidateLimit = 256)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(learned.size == 256, s"learned only ${learned.size} merges")
    BpeOps.table(learned) // well-formed
    // the point of batching: ~numMerges/batchSize counting rounds, each
    // 2 jobs — wall-clock seconds, not 256 sequential job pairs. Pinned
    // loosely (CI machines vary) — the sequential path took ~2s for 8
    // merges, so 256 sequential merges would be minutes.
    assert(secs < 120, f"256 batched merges took $secs%.1f s")
    // and the learned vocabulary actually tokenizes the corpus it was
    // learned from more compactly than characters
    val agg = Bpe.tokenCounts(docs, "doc_id", "text", learned)
      .agg(org.apache.spark.sql.functions.sum("n_bpe_tokens"))
      .collect()(0).getLong(0)
    val chars = docs.select(
      org.apache.spark.sql.functions.sum(length(col("text")))).collect()(0).getLong(0)
    assert(agg < chars, s"learned vocabulary must compress: $agg vs $chars")
  }

  test("writeMerges/readMerges round-trips a learned table; corruption fails at load") {
    val dir = tempDir("graft-merges").toString
    val learned = graft.operators.Bpe.learnMerges(
      Tables(spark, "/root/testdata/sf0.001").documents,
      "doc_id", "text", numMerges = 12)
    assert(learned.size == 12)
    graft.operators.Bpe.writeMerges(spark, learned, s"$dir/m")
    val loaded = graft.operators.Bpe.readMerges(spark, s"$dir/m")
    assert(loaded == learned) // rank order restored exactly
    // the loaded artifact feeds the counting path identically
    val docs = Tables(spark, "/root/testdata/sf0.001").documents.limit(50)
    def counts(m: Seq[(String, String)]) = graft.operators.Bpe
      .tokenCounts(docs, "doc_id", "text", m)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(counts(loaded) == counts(learned))
    // a corrupted artifact (duplicate output string) is rejected at LOAD
    import spark.implicits._
    (Seq((0, "a", "b"), (1, "a", "b")))
      .toDF("rank", "a", "b")
      .write.mode("overwrite").parquet(s"$dir/bad")
    intercept[IllegalArgumentException] {
      graft.operators.Bpe.readMerges(spark, s"$dir/bad")
    }
    // an unpublishable (malformed) table is rejected at WRITE
    intercept[IllegalArgumentException] {
      graft.operators.Bpe.writeMerges(spark, Seq("xy" -> "z"), s"$dir/never")
    }
  }

  test("tokenCounts: per-doc sums match a driver-side recount; empty text counts 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the theater and the thing"),
      (2L, ""),
      (3L, "in and in")).toDF("doc_id", "text")
    val got = Bpe.tokenCounts(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def count(text: String): Long = {
      val m = java.util.regex.Pattern
        .compile(graft.functions.TextFunctions.bpePattern).matcher(text)
      var n = 0L
      while (m.find()) n += BpeOps.encode(m.group(), tbl).length
      n
    }
    assert(got == Map(1L -> count("the theater and the thing"), 2L -> 0L,
      3L -> count("in and in")))
    assert(got(2L) == 0L)
  }
}
