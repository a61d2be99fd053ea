package graft

import java.sql.Timestamp
import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{EventRow, EventStreams}

/** Structured Streaming semantics driven through MemoryStream: windowed
  * aggregation (and its batch equivalence — same plan, both engines),
  * watermark-bounded dedup, and custom-state sessionization. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  private def ev(id: Long, min: Long, user: Long, typ: String, v: Double) =
    EventRow(id, ts(min), user, typ, v)

  private def checkpoint(): String =
    tempDir("graft-ckpt").toString

  test("windowedCounts: streaming result equals the batch plan on the same data") {
    val events = Seq(
      ev(1, 1, 1, "click", 1.0), ev(2, 5, 1, "click", 2.0),
      ev(3, 61, 2, "view", 3.0), ev(4, 62, 1, "click", 4.0),
      ev(5, 125, 2, "view", 5.0))

    val input = MemoryStream[EventRow](spark)
    val q = EventStreams.windowedCounts(input.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val streaming = spark.table("win_counts")
        .orderBy("window_start", "event_type").collect()

      val batch = EventStreams.windowedCounts(events.toDF(), "1 hour", "10 minutes")
        .orderBy("window_start", "event_type").collect()

      assert(streaming.toSeq == batch.toSeq)
      assert(streaming.length == 4) // (h0 click), (h1 view), (h1 click), (h2 view)
      assert(streaming.head.getAs[Long]("n") == 2)
      assert(streaming.head.getAs[Double]("total_value") == 3.0)
    } finally q.stop()
  }

  test("upsertSink folds a CDC stream into the latest snapshot across batches") {
    val target = tempDir("graft-upsert").toString
    val input = MemoryStream[(Long, String, Long, Boolean)](spark)
    val changes = input.toDF().toDF("k", "v", "seq", "del")
    val q = EventStreams.upsertSink(
      changes, target, checkpoint(),
      keys = Seq("k"), seqCols = Seq("seq"), isDelete = col("del"))
    try {
      // batch 0: inserts
      input.addData((1L, "a", 1L, false), (2L, "b", 1L, false))
      q.processAllAvailable()
      val s0 = spark.read
        .parquet(EventStreams.currentSnapshot(spark, target).get)
        .filter(!col("del"))
      assert(s0.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
        == Set((1L, "a"), (2L, "b")))
      // batch 1: update k=1, delete k=2, insert k=3
      input.addData((1L, "a2", 2L, false), (2L, "b", 2L, true), (3L, "c", 2L, false))
      q.processAllAvailable()
      val s1 = spark.read
        .parquet(EventStreams.currentSnapshot(spark, target).get)
        .filter(!col("del"))
      assert(s1.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
        == Set((1L, "a2"), (3L, "c")))
      // an out-of-order older change must NOT resurrect or downgrade
      input.addData((1L, "stale", 1L, false), (2L, "stale", 1L, false))
      q.processAllAvailable()
      val s2 = spark.read
        .parquet(EventStreams.currentSnapshot(spark, target).get)
        .filter(!col("del"))
      assert(s2.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
        == Set((1L, "a2"), (3L, "c")))
    } finally q.stop()
  }

  test("snapshot time travel: asOf serves history, retention bounds it, compaction destroys it") {
    val target = tempDir("graft-travel").toString
    val input = MemoryStream[(Long, String, Long, Boolean)](spark)
    val changes = input.toDF().toDF("k", "v", "seq", "del")
    val q = EventStreams.upsertSink(
      changes, target, checkpoint(),
      keys = Seq("k"), seqCols = Seq("seq"), isDelete = col("del"))
    def live(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.filter(!col("del")).select("k", "v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    try {
      input.addData((1L, "a", 1L, false), (2L, "b", 1L, false))
      q.processAllAvailable() // batch 0
      input.addData((1L, "a2", 2L, false), (2L, "b", 2L, true))
      q.processAllAvailable() // batch 1: update k=1, delete k=2
      input.addData((3L, "c", 3L, false))
      q.processAllAvailable() // batch 2
    } finally q.stop()
    assert(EventStreams.snapshotVersions(spark, target).size == 3)
    // every historical state still readable, by the batch id the
    // checkpoint log speaks
    assert(live(EventStreams.snapshotAsOf(spark, target, 0L).get)
      == Set((1L, "a"), (2L, "b")))
    assert(live(EventStreams.snapshotAsOf(spark, target, 1L).get)
      == Set((1L, "a2")))
    assert(live(EventStreams.snapshotAsOf(spark, target, 2L).get)
      == Set((1L, "a2"), (3L, "c")))
    // a future batch id serves the current snapshot
    assert(live(EventStreams.snapshotAsOf(spark, target, 99L).get)
      == Set((1L, "a2"), (3L, "c")))
    // retention: newest 2 survive, batch 0's state is destroyed,
    // current is untouched
    EventStreams.retainSnapshots(spark, target, keepLast = 2)
    assert(EventStreams.snapshotVersions(spark, target).size == 2)
    assert(EventStreams.snapshotAsOf(spark, target, 0L).isEmpty)
    assert(live(EventStreams.snapshotAsOf(spark, target, 1L).get)
      == Set((1L, "a2")))
    assert(live(spark.read.parquet(
      EventStreams.currentSnapshot(spark, target).get))
      == Set((1L, "a2"), (3L, "c")))
    // compaction destroys ALL history below the current version, and
    // asOf(current) now serves the compacted rewrite (base id is kept)
    EventStreams.compactSnapshots(spark, target, col("del"), lit(false))
    assert(EventStreams.snapshotAsOf(spark, target, 1L).isEmpty)
    val asOf2 = EventStreams.snapshotAsOf(spark, target, 2L).get
    assert(asOf2.filter(col("del")).count() == 0) // tombstones purged
    assert(live(asOf2) == Set((1L, "a2"), (3L, "c")))
  }

  test("asofEnrichSink: streamed micro-batches equal the batch as-of join (q38 fixture)") {
    val ev = Tables(spark, "/root/testdata/sf0.001").events
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("purchase_value"))
    // stream the click fixture file-by-file -> several real micro-batches
    val src = tempDir("graft-asof-src").toString
    clicks.repartition(4).write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(clicks.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
    val target = tempDir("graft-asof-out").toString
    val q = EventStreams.asofEnrichSink(
      stream, purchases, Seq("user_id"), "ts", Seq("purchase_value"),
      target, checkpoint())
    try q.processAllAvailable() finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value"), 6).as("v"), round(col("purchase_value"), 6).as("pv"))
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    val streamed = canon(EventStreams.asofEnriched(spark, target))
    val batch = canon(graft.operators.Joins.asofJoin(
      clicks, purchases, Seq("user_id"), "ts", Seq("purchase_value")))
    assert(streamed.size == batch.size && streamed == batch)
  }

  test("corpusStatsSink: streamed sketch rows fold to the direct batch aggregate") {
    val docs = Tables(spark, sf0001).documents
    // stream the corpus file-by-file -> several real micro-batches
    val src = tempDir("graft-stats-src").toString
    docs.repartition(4).write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
    val target = tempDir("graft-stats-out").toString
    val q = EventStreams.corpusStatsSink(
      stream, "source", "text", target, checkpoint())
    try q.processAllAvailable() finally q.stop()
    // several batches actually committed (sketch rows, not corpus rows)
    val nBatches = EventStreams.committedBatches(spark, target)
      .select(input_file_name()).distinct().count()
    assert(nBatches >= 2, s"wanted >=2 committed micro-batches, got $nBatches")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("source").collect().map(_.toSeq).toSeq
    val streamed = canon(EventStreams.corpusStats(spark, target, "source"))
    val nt = graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
    val direct = canon(
      docs.groupBy(col("source"))
        .agg(
          graft.functions.expressions.HllEstimate(
            graft.functions.expressions.HllSketch(xxhash64(col("text"))))
            .as("approx_distinct_texts"),
          graft.functions.expressions.Hist.sketch(nt,
            EventStreams.StatsHistLo, EventStreams.StatsHistHi,
            EventStreams.StatsHistBins).as("hk"),
          count(lit(1)).as("n_docs"),
          sum(nt).as("n_tokens"))
        .withColumn("p50_tokens",
          graft.functions.expressions.Hist.quantileOf(col("hk"),
            lit(500000L), EventStreams.StatsHistLo, EventStreams.StatsHistHi))
        .withColumn("p90_tokens",
          graft.functions.expressions.Hist.quantileOf(col("hk"),
            lit(900000L), EventStreams.StatsHistLo, EventStreams.StatsHistHi)))
    // register max (HLL) and counter sums (hist) are order-free: the
    // folded sketches — and everything read from them — are EXACTLY
    // the direct aggregates; counts sum exactly
    assert(streamed == direct)
  }

  test("experimentIngestSink: streamed unit partials reproduce the batch CUPED readout (q78 fixture)") {
    val cut = to_timestamp(lit("2024-01-16 00:00:00"))
    val cents = round(col("value") * 100.0, 0).cast("long")
    val ev = Tables(spark, sf0001).events
      .filter(col("user_id").isNotNull)
      .select(
        col("event_type"),
        pmod(col("user_id"), lit(2L)).cast("int").as("arm"),
        col("user_id"),
        when(col("ts") >= cut, cents).otherwise(lit(0L)).as("y_cents"),
        when(col("ts") < cut, cents).otherwise(lit(0L)).as("x_cents"))
    // stream file-by-file: users' events deliberately SPAN micro-batches,
    // so the readout only matches if cross-batch unit re-collapse is exact
    val src = tempDir("graft-exp-src").toString
    ev.repartition(4).write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
    val target = tempDir("graft-exp-out").toString
    val q = EventStreams.experimentIngestSink(
      stream, "event_type", "arm", "user_id", "y_cents", "x_cents",
      target, checkpoint())
    try q.processAllAvailable() finally q.stop()
    val nBatches = EventStreams.committedBatches(spark, target)
      .select(input_file_name()).distinct().count()
    assert(nBatches >= 2, s"wanted >=2 committed micro-batches, got $nBatches")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type").collect().map(_.toSeq).toSeq
    val streamed = canon(EventStreams.experimentReadout(
      spark, target, "event_type", "arm", "user_id", "y_cents", "x_cents"))
    val direct = canon(graft.operators.Experiments.cupedAbTest(
      ev, "event_type", "arm", "user_id", "y_cents", "x_cents"))
    // additive unit collapse + moments-from-exact-integers: the doubles
    // are bit-identical, not approximately equal
    assert(streamed == direct)
  }

  test("linkageProbeSink: streamed record batches equal the batch linkage (d26 fixture)") {
    import graft.operators.Linkage
    import graft.operators.Linkage.FieldSpec
    val c = Tables(spark, sf0001).customer
    val ref = c.select(
      col("c_custkey").as("id"), col("c_nationkey").as("nat"),
      lower(col("c_name")).as("name"), col("c_mktsegment").as("seg"))
    val probe = ref.select(
      (col("id") + 500000L).as("id"), col("nat"),
      when(col("id") % 4 === 0, concat(col("name"), lit("q")))
        .otherwise(col("name")).as("name"),
      col("seg"))
    val fields = Seq(
      FieldSpec("name", (x, y) => x === y, m = 0.9, u = 0.01),
      FieldSpec("seg", (x, y) => x === y, m = 0.8, u = 0.2))
    Linkage.writeReferenceIndex(spark, "link_sink_spec", ref, "id", Seq("nat"), fields)
    try {
      val src = tempDir("graft-linksink-src").toString
      probe.repartition(4).write.mode("overwrite").parquet(src)
      val stream = spark.readStream
        .schema(probe.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val target = tempDir("graft-linksink-out").toString
      val q = EventStreams.linkageProbeSink(
        stream, "link_sink_spec", "id", Seq("nat"), fields,
        lower = 0.0, upper = 5.0, target, checkpoint())
      try q.processAllAvailable() finally q.stop()
      val nBatches = EventStreams.committedBatches(spark, target)
        .select(input_file_name()).distinct().count()
      assert(nBatches >= 2, s"want >=2 committed micro-batches, got $nBatches")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
      val streamed = canon(EventStreams.committedBatches(spark, target))
      val batchRun = canon(Linkage.probeReferenceIndex(
        spark, "link_sink_spec", probe, "id", Seq("nat"), fields, 0.0, 5.0))
      assert(streamed.nonEmpty && streamed == batchRun)
    } finally spark.sql("DROP TABLE IF EXISTS link_sink_spec")
  }

  test("dedupProbeSink: streamed micro-batches equal the batch probe (p10 fixture)") {
    val docs = Tables(spark, sf0001).documents
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    graft.operators.Dedup.writeDedupIndex(
      corpus, "doc_id", "text", "ded_sink_spec", numBuckets = 8)
    try {
      // stream the batch file-by-file -> several real micro-batches
      val src = tempDir("graft-dedsink-src").toString
      batch.repartition(4).write.mode("overwrite").parquet(src)
      val stream = spark.readStream
        .schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val target = tempDir("graft-dedsink-out").toString
      val q = EventStreams.dedupProbeSink(
        stream, "ded_sink_spec", "doc_id", "text", target, checkpoint())
      try q.processAllAvailable() finally q.stop()
      // a crash-partial batch dir (no _SUCCESS) must stay invisible —
      // its junk file would otherwise break the parquet read outright
      val partial = new java.io.File(s"$target/b_000000000099")
      assert(partial.mkdirs())
      Files.writeString(partial.toPath.resolve("part-00000.parquet"), "junk")
      val fs = new org.apache.hadoop.fs.Path(target)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val committed = fs.listStatus(new org.apache.hadoop.fs.Path(target))
        .map(_.getPath.getName).filter(_.startsWith("b_")).toSeq
        .filter(n => fs.exists(new org.apache.hadoop.fs.Path(s"$target/$n/_SUCCESS")))
      assert(committed.size >= 2, s"want >=2 real micro-batches, got $committed")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val streamed = canon(EventStreams.committedBatches(spark, target))
      val batchRun = canon(graft.operators.Dedup.incrementalDedupIndexed(
        spark, "ded_sink_spec", batch, "doc_id", "text"))
      assert(streamed.nonEmpty && streamed == batchRun)
    } finally Seq("_exact", "_bands", "_texts").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ded_sink_spec$s"))
  }

  test("lmProbeSink: streamed micro-batches equal the batch scoring (t23 fixture)") {
    import graft.operators.TfIdf
    val docs = Tables(spark, sf0001).documents
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val eval = docs.filter(col("doc_id") % 5 === 0)
    TfIdf.writeLmIndex(train, "text", "lm_sink_spec", numBuckets = 8)
    try {
      val src = tempDir("graft-lmsink-src").toString
      eval.repartition(4).write.mode("overwrite").parquet(src)
      val stream = spark.readStream
        .schema(eval.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val target = tempDir("graft-lmsink-out").toString
      val q = EventStreams.lmProbeSink(
        stream, "lm_sink_spec", "doc_id", "text", target, checkpoint())
      try q.processAllAvailable() finally q.stop()
      val fs = new org.apache.hadoop.fs.Path(target)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val committed = fs.listStatus(new org.apache.hadoop.fs.Path(target))
        .map(_.getPath.getName).filter(_.startsWith("b_")).toSeq
        .filter(n => fs.exists(new org.apache.hadoop.fs.Path(s"$target/$n/_SUCCESS")))
      assert(committed.size >= 2, s"want >=2 real micro-batches, got $committed")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val streamed = canon(EventStreams.committedBatches(spark, target))
      val batchRun = canon(TfIdf.scoreWithLmIndex(
        spark, "lm_sink_spec", eval, "doc_id", "text"))
      assert(streamed.nonEmpty && streamed == batchRun)
    } finally Seq("_uni", "_big", "_tri").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS lm_sink_spec$s"))
  }

  test("ivfProbeSink: streamed query micro-batches equal the batch probe (s05 fixture)") {
    val emb = Tables(spark, sf0001).embeddings
    val centroids = graft.operators.Similarity
      .sampleCentroids(emb, "vec_id", "embedding", 16)
    graft.operators.Similarity.writeIvfIndex(
      emb, "vec_id", "embedding", centroids, "ivf_sink_spec", numBuckets = 16,
      attrCols = Seq("label"))
    try {
      val queries = emb.filter(col("vec_id") < 10)
      val src = tempDir("graft-ivfsink-src").toString
      queries.repartition(3).write.mode("overwrite").parquet(src)
      def stream = spark.readStream
        .schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val target = tempDir("graft-ivfsink-out").toString
      val q = EventStreams.ivfProbeSink(
        stream, "ivf_sink_spec", "vec_id", "embedding", k = 5,
        centroids = centroids, nProbe = 6, target, checkpoint())
      try q.processAllAvailable() finally q.stop()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      val streamed = canon(EventStreams.committedBatches(spark, target))
      val batchRun = canon(graft.operators.Similarity.probeIvfIndex(
        spark, "ivf_sink_spec", queries, "vec_id", "embedding",
        k = 5, centroids = centroids, nProbe = 6))
      assert(streamed.nonEmpty && streamed == batchRun)
      // the FILTERED serving face (s13 streamed): same sink with a
      // metadata predicate — streamed output equals the filtered batch
      // probe, and every neighbor satisfies the predicate
      val pred = col("label") % 3 === 1
      val target2 = tempDir("graft-ivfsink-flt").toString
      val q2 = EventStreams.ivfProbeSink(
        stream, "ivf_sink_spec", "vec_id", "embedding", k = 5,
        centroids = centroids, nProbe = 6, target2, checkpoint(),
        filter = Some(pred))
      try q2.processAllAvailable() finally q2.stop()
      val streamedF = canon(EventStreams.committedBatches(spark, target2))
      val batchF = canon(graft.operators.Similarity.probeIvfIndex(
        spark, "ivf_sink_spec", queries, "vec_id", "embedding",
        k = 5, centroids = centroids, nProbe = 6, filter = Some(pred)))
      assert(streamedF.nonEmpty && streamedF == batchF)
      val eligible = emb.filter(pred)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(EventStreams.committedBatches(spark, target2)
        .collect().forall(r => eligible(r.getAs[Long]("neighbor_id"))))
    } finally spark.sql("DROP TABLE IF EXISTS ivf_sink_spec")
  }

  test("knnClassifySink: streamed labels equal the batch classify (s14 serving face)") {
    val emb = Tables(spark, sf0001).embeddings
    val labeled = emb.filter(col("vec_id") % 10 =!= 0)
    val centroids = graft.operators.Similarity
      .sampleCentroids(labeled, "vec_id", "embedding", 16)
    graft.operators.Similarity.writeIvfIndex(
      labeled, "vec_id", "embedding", centroids, "ivf_cls_sink", numBuckets = 16,
      attrCols = Seq("label"))
    try {
      val queries = emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 100)
      val src = tempDir("graft-cls-src").toString
      queries.repartition(3).write.mode("overwrite").parquet(src)
      val stream = spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val target = tempDir("graft-cls-out").toString
      val q = EventStreams.knnClassifySink(
        stream, "ivf_cls_sink", "vec_id", "embedding", "label", k = 10,
        centroids = centroids, nProbe = 8, target, checkpoint())
      try q.processAllAvailable() finally q.stop()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id").collect().map(_.toSeq).toSeq
      val streamed = canon(EventStreams.committedBatches(spark, target))
      val batchRun = canon(graft.operators.Similarity.knnClassifyAttached(
        graft.operators.Similarity.probeIvfIndex(spark, "ivf_cls_sink",
          queries, "vec_id", "embedding", k = 10, centroids = centroids,
          nProbe = 8, passAttrs = Seq("label")),
        "label"))
      assert(streamed.nonEmpty && streamed == batchRun)
      // and the attached-label path equals the join path on the same probe
      val viaJoin = canon(graft.operators.Similarity.knnClassify(
        graft.operators.Similarity.probeIvfIndex(spark, "ivf_cls_sink",
          queries, "vec_id", "embedding", k = 10, centroids = centroids,
          nProbe = 8),
        labeled, "vec_id", "label"))
      assert(batchRun == viaJoin)
    } finally spark.sql("DROP TABLE IF EXISTS ivf_cls_sink")
  }

  test("dedupIngestSink: batch N+1 detects batch N's novel docs as duplicates") {
    import spark.implicits._
    val seedCorpus = Seq(
      (1L, "seed document about rivers and stone bridges"),
      (2L, "seed document describing mountain weather patterns"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeDedupIndex(
      seedCorpus, "doc_id", "text", "ded_ingest_spec", numBuckets = 2)
    try {
      val src = tempDir("graft-ingest-src").toString
      val target = tempDir("graft-ingest-out").toString
      val ckpt = checkpoint()
      def drop(rows: Seq[(Long, String)], file: String): Unit =
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(s"$src/$file")
      // the source dir is a stream of subdirectory drops; write drop 1,
      // process it, then write drop 2 — deterministic batch boundaries
      drop(Seq(
        100L -> "brand new content alpha beta gamma",
        101L -> "seed document about rivers and stone bridges"), "d1")
      val schema = seedCorpus.schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$src/*")
      val q = EventStreams.dedupIngestSink(
        stream, "ded_ingest_spec", "doc_id", "text", target, ckpt, numBuckets = 2)
      try {
        q.processAllAvailable()
        drop(Seq(
          200L -> "brand new content alpha beta gamma", // copy of NOVEL 100
          201L -> "entirely different follow-up material"), "d2")
        q.processAllAvailable()
      } finally q.stop()
      val out = EventStreams.committedBatches(spark, target)
        .collect().map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
      assert(out(100L) == ("novel", None), out) // new to the seed index
      assert(out(101L) == ("exact_dup", Some(1L)), out) // seed-owned text
      // the lifecycle claim: doc 200 copies doc 100's text, which entered
      // the index when batch 1's novel docs were APPENDED
      assert(out(200L) == ("exact_dup", Some(100L)), out)
      assert(out(201L) == ("novel", None), out)
    } finally Seq("_exact", "_bands", "_texts").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ded_ingest_spec$s"))
  }

  test("spanProbeSink: streamed micro-batches equal the batch span probe (d18 fixture)") {
    val docs = Tables(spark, sf0001).documents
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    graft.operators.Dedup.writeSpanIndex(
      corpus, "doc_id", "text", "span_sink_spec", numBuckets = 8)
    try {
      val src = tempDir("graft-spansink-src").toString
      batch.repartition(4).write.mode("overwrite").parquet(src)
      val stream = spark.readStream
        .schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val target = tempDir("graft-spansink-out").toString
      val q = EventStreams.spanProbeSink(
        stream, "span_sink_spec", "doc_id", "text", target, checkpoint())
      try q.processAllAvailable() finally q.stop()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val streamed = canon(EventStreams.committedBatches(spark, target))
      val batchRun = canon(graft.operators.Dedup.probeSpanIndex(
        spark, "span_sink_spec", batch, "doc_id", "text"))
      assert(streamed.nonEmpty && streamed == batchRun)
      assert(streamed.exists(_(3).asInstanceOf[Long] > 0), "vacuous: no corpus dup")
    } finally spark.sql("DROP TABLE IF EXISTS span_sink_spec_spans")
  }

  test("spanIngestSink: batch N+1 reports batch N's content as corpus-duplicated") {
    import spark.implicits._
    val seedCorpus = Seq(
      (1L, "seed passage about rivers and stone bridges in autumn"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeSpanIndex(
      seedCorpus, "doc_id", "text", "span_ingest_spec",
      windowTokens = 3, numBuckets = 2)
    try {
      val src = tempDir("graft-spaningest-src").toString
      val target = tempDir("graft-spaningest-out").toString
      val ckpt = checkpoint()
      def drop(rows: Seq[(Long, String)], file: String): Unit =
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(s"$src/$file")
      drop(Seq(
        100L -> "fresh material alpha beta gamma delta epsilon",
        101L -> "seed passage about rivers and stone bridges in autumn"), "d1")
      val stream = spark.readStream.schema(seedCorpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$src/*")
      val q = EventStreams.spanIngestSink(
        stream, "span_ingest_spec", "doc_id", "text", target, ckpt,
        windowTokens = 3, numBuckets = 2)
      try {
        q.processAllAvailable()
        drop(Seq(
          200L -> "fresh material alpha beta gamma delta epsilon", // copy of 100
          201L -> "wholly unrelated closing remarks tonight"), "d2")
        q.processAllAvailable()
      } finally q.stop()
      val out = EventStreams.committedBatches(spark, target)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows")))
        .toMap
      assert(out(100L)._2 == 0L, s"batch-1 novel doc vs seed index: $out")
      assert(out(101L)._1 == out(101L)._2 && out(101L)._2 > 0,
        s"seed-owned text fully covered: $out")
      // the lifecycle claim: doc 200 copies doc 100's text, which entered
      // the index when batch 1 was appended
      assert(out(200L)._1 == out(200L)._2 && out(200L)._2 > 0,
        s"batch-2 copy of batch-1 content must be fully duplicated: $out")
      assert(out(201L)._2 == 0L, s"unrelated doc must stay clean: $out")
    } finally spark.sql("DROP TABLE IF EXISTS span_ingest_spec_spans")
  }

  test("ingest-step recovery: full replay is a no-op; a lost append marker is absorbed") {
    import spark.implicits._
    val seedCorpus = Seq(
      (1L, "seed passage about rivers and stone bridges in autumn"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeDedupIndex(
      seedCorpus, "doc_id", "text", "ded_rec_spec", numBuckets = 2)
    graft.operators.Dedup.writeSpanIndex(
      seedCorpus, "doc_id", "text", "span_rec_spec",
      windowTokens = 3, numBuckets = 2)
    val dedTarget = tempDir("graft-dedrec-out").toString
    val spanTarget = tempDir("graft-spanrec-out").toString
    try {
      val batch = Seq(
        (100L, "fresh material alpha beta gamma delta epsilon"),
        (101L, "seed passage about rivers and stone bridges in autumn"))
        .toDF("doc_id", "text")
      def dedStep() = EventStreams.dedupIngestStep(
        "ded_rec_spec", batch, 0L, "doc_id", "text", dedTarget,
        numBuckets = 2, shingleSize = 3, numHashes = 64, bands = 16,
        seed = 42L, tau = 0.4)
      def spanStep() = EventStreams.spanIngestStep(
        "span_rec_spec", batch, 0L, "doc_id", "text", spanTarget,
        windowTokens = 3, numBuckets = 2)
      def classifications() = EventStreams.committedBatches(spark, dedTarget)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      dedStep(); spanStep()
      val class1 = classifications()
      val dedRows = spark.table("ded_rec_spec_bands").count()
      val spanRows = spark.table("span_rec_spec_spans").count()
      // checkpoint replay: both markers exist -> byte-level no-op
      dedStep(); spanStep()
      assert(classifications() == class1)
      assert(spark.table("ded_rec_spec_bands").count() == dedRows)
      assert(spark.table("span_rec_spec_spans").count() == spanRows)
      // crash between append and marker: the replay re-runs the append.
      // Span index: a row-level no-op (presence check excludes committed
      // hashes). Dedup index: band/text rows may double for the batch,
      // but classifications are unaffected (min/distinct absorb them) —
      // exactly the documented recovery contract.
      def rmMarker(target: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(s"$target/_appended_000000000000")
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        assert(fs.delete(p, false))
      }
      rmMarker(dedTarget); rmMarker(spanTarget)
      dedStep(); spanStep()
      assert(spark.table("span_rec_spec_spans").count() == spanRows,
        "span re-append must not add rows")
      assert(classifications() == class1, "classifications must survive re-append")
      // and a NEW batch probing the re-appended dedup index classifies
      // doc 100's text as owned by 100 exactly once (duplicates absorbed)
      val probe = Seq((300L, "fresh material alpha beta gamma delta epsilon"))
        .toDF("doc_id", "text")
      val r = graft.operators.Dedup.incrementalDedupIndexed(
        spark, "ded_rec_spec", probe, "doc_id", "text").collect()
      assert(r.length == 1 && r.head.getString(1) == "exact_dup" &&
        r.head.getLong(2) == 100L, r.toSeq.toString)
    } finally {
      Seq("_exact", "_bands", "_texts").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS ded_rec_spec$s"))
      spark.sql("DROP TABLE IF EXISTS span_rec_spec_spans")
    }
  }

  test("ivfIngestSink: batch N+1 detects near-copies of batch N's novel vectors") {
    import spark.implicits._
    val seed = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val centroids = graft.operators.Similarity
      .sampleCentroids(seed, "vec_id", "embedding", nCells = 2)
    graft.operators.Similarity.writeIvfIndex(
      seed, "vec_id", "embedding", centroids, "ivf_ingest_spec", numBuckets = 2)
    try {
      val src = tempDir("graft-ivfingest-src").toString
      val target = tempDir("graft-ivfingest-out").toString
      def drop(rows: Seq[(Long, Seq[Float])], file: String): Unit =
        rows.toDF("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(s"$src/$file")
      // drop 1: 100 is novel (orthogonal to the seed); 101 near-dups seed 1
      drop(Seq(
        100L -> Seq(0.0f, 0.0f, 1.0f),
        101L -> Seq(0.99f, 0.1f, 0.0f)), "d1")
      val stream = spark.readStream.schema(seed.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$src/*")
      val q = EventStreams.ivfIngestSink(
        stream, "ivf_ingest_spec", "vec_id", "embedding",
        centroids, nProbe = 2, tau = 0.95, target, checkpoint(), numBuckets = 2)
      try {
        q.processAllAvailable()
        // drop 2: 200 near-dups NOVEL 100 (only findable post-append);
        // 201 is far from everything
        drop(Seq(
          200L -> Seq(0.01f, 0.01f, 0.999f),
          201L -> Seq(0.7f, 0.7f, 0.1f)), "d2")
        q.processAllAvailable()
      } finally q.stop()
      val out = EventStreams.committedBatches(spark, target)
        .collect().map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
      assert(out(100L)._1 == "novel", out)
      assert(out(101L) == ("near_dup", Some(1L)), out)
      assert(out(200L) == ("near_dup", Some(100L)), out) // batch-1 novel, indexed
      assert(out(201L)._1 == "novel", out)
    } finally spark.sql("DROP TABLE IF EXISTS ivf_ingest_spec")
  }

  test("currentSnapshot ignores an uncommitted (crash-partial) version dir") {
    val target = tempDir("graft-partial").toString
    // committed v_1: parquet write leaves a _SUCCESS marker
    spark.range(3).toDF("k").write.parquet(s"$target/v_000000000001")
    // crash-partial v_2: data file present, NO _SUCCESS — must not be
    // treated as current (the replayed batch would merge into it and
    // silently lose rows present only in v_1)
    val partial = new java.io.File(s"$target/v_000000000002")
    assert(partial.mkdirs())
    Files.writeString(partial.toPath.resolve("part-00000.parquet"), "junk")
    val cur = EventStreams.currentSnapshot(spark, target).get
    assert(cur.endsWith("v_000000000001"), cur)
  }

  test("compactSnapshots purges old tombstones and versions, stream resumes") {
    val target = tempDir("graft-compact").toString
    val ckpt = checkpoint()
    val input = MemoryStream[(Long, String, Long, Boolean)](spark)
    def sink(in: MemoryStream[(Long, String, Long, Boolean)]) =
      EventStreams.upsertSink(
        in.toDF().toDF("k", "v", "seq", "del"), target, ckpt,
        keys = Seq("k"), seqCols = Seq("seq"), isDelete = col("del"))
    val q = sink(input)
    try {
      input.addData((1L, "a", 1L, false), (2L, "b", 1L, false))
      q.processAllAvailable()
      input.addData((2L, "b", 2L, true), (3L, "c", 5L, false))
      q.processAllAvailable()
    } finally q.stop()
    // compact with the horizon past the k=2 tombstone: it is purged
    EventStreams.compactSnapshots(spark, target, col("del"), col("seq") >= 3)
    val cur = EventStreams.currentSnapshot(spark, target).get
    // gen is zero-padded so string sort == numeric sort past gen 9
    assert(cur.contains("_c0001"), cur)
    val snap = spark.read.parquet(cur)
    assert(snap.filter(col("del")).count() == 0)
    assert(snap.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "a"), (3L, "c")))
    // superseded version directories are gone
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(target))
      .map(_.getPath.getName).filter(_.startsWith("v_")).toSeq
    assert(dirs == Seq(new org.apache.hadoop.fs.Path(cur).getName), dirs)
    // the stream resumes from the same checkpoint on top of the compact
    // (same MemoryStream instance — a fresh one cannot serve the
    // checkpointed offsets)
    val q2 = sink(input)
    try {
      input.addData((4L, "d", 6L, false))
      q2.processAllAvailable()
      val s = spark.read
        .parquet(EventStreams.currentSnapshot(spark, target).get)
        .filter(!col("del"))
      assert(s.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
        == Set((1L, "a"), (3L, "c"), (4L, "d")))
    } finally q2.stop()
  }

  test("compactSnapshots supersedes and deletes a legacy UNPADDED generation dir") {
    // A target written before generations were zero-padded holds e.g.
    // `v_..._c1`. String ordering would rank that ABOVE any padded
    // `_c0002`..`_c0999` successor — the compacted result would never
    // supersede and the stale dir never be deleted. versionKey compares
    // generations numerically, so compaction must migrate the legacy dir.
    val target = tempDir("graft-legacy").toString
    Seq((1L, "a", 1L, false), (2L, "b", 1L, true), (3L, "c", 5L, false))
      .toDF("k", "v", "seq", "del")
      .write.parquet(s"$target/v_000000000001_c1")
    val legacy = EventStreams.currentSnapshot(spark, target).get
    assert(legacy.endsWith("v_000000000001_c1"), legacy)
    EventStreams.compactSnapshots(spark, target, col("del"), col("seq") >= 3)
    val cur = EventStreams.currentSnapshot(spark, target).get
    // numeric generation: legacy gen 1 -> padded gen 2
    assert(cur.endsWith("v_000000000001_c0002"), cur)
    val snap = spark.read.parquet(cur)
    assert(snap.filter(col("del")).count() == 0) // old tombstone purged
    assert(snap.select("k").as[Long].collect().toSet == Set(1L, 3L))
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(target))
      .map(_.getPath.getName).filter(_.startsWith("v_")).toSeq
    assert(dirs == Seq("v_000000000001_c0002"), dirs) // stale legacy dir GONE
  }

  test("currentSnapshot survives a foreign version dir name (string-order fallback)") {
    // A dir whose suffix after `_c` is not a number must degrade to the
    // old total-string ordering instead of crashing the read path.
    val target = tempDir("graft-foreign").toString
    spark.range(3).toDF("k").write.parquet(s"$target/v_000000000001")
    spark.range(2).toDF("k").write.parquet(s"$target/v_cdc_one")
    val cur = EventStreams.currentSnapshot(spark, target).get // must not throw
    assert(cur.endsWith("v_cdc_one"), cur) // same pick the old string sort made
  }

  test("windowedHeavyHitters: streaming CMS sketch is bit-identical to batch") {
    import graft.functions.expressions.CountMin
    // user 7 is hot in hour 0: 5 of 7 events
    val events = Seq(
      ev(1, 1, 7, "c", 1.0), ev(2, 2, 7, "c", 1.0), ev(3, 3, 7, "c", 1.0),
      ev(4, 4, 7, "c", 1.0), ev(5, 5, 7, "c", 1.0), ev(6, 6, 1, "c", 1.0),
      ev(7, 7, 2, "c", 1.0), ev(8, 61, 3, "c", 1.0))

    val input = MemoryStream[EventRow](spark)
    val q = EventStreams.windowedHeavyHitters(input.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("hh")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val streaming = spark.table("hh").orderBy("window_start")
        .collect().map(r => (r.getAs[java.sql.Timestamp]("window_start"),
          r.getSeq[Long](r.fieldIndex("cms")), r.getAs[Long]("n")))
      val batch = EventStreams.windowedHeavyHitters(events.toDF(), "1 hour", "10 minutes")
        .orderBy("window_start")
        .collect().map(r => (r.getAs[java.sql.Timestamp]("window_start"),
          r.getSeq[Long](r.fieldIndex("cms")), r.getAs[Long]("n")))
      assert(streaming.toSeq == batch.toSeq)
      // probing the hour-0 sketch finds the hot user with CMS guarantees
      val hour0 = spark.table("hh").orderBy("window_start").limit(1)
      val est = hour0.select(
        CountMin.estimate(col("cms"), lit(7L)).as("hot"),
        CountMin.estimate(col("cms"), lit(999L)).as("absent")).head
      assert(est.getLong(0) >= 5L)
      assert(est.getLong(1) <= 2L) // tiny load: collisions near zero
    } finally q.stop()
  }

  test("attributeClicks: stream-stream join equals the batch join, bounded state") {
    // user 1: view@1 -> clicks@10,25 (both within 30m); click@40 beyond
    // user 2: view@5 -> click@20; user 3: click@8 with no view
    val views = Seq(ev(101, 1, 1, "view", 0), ev(102, 5, 2, "view", 0))
    val clicks = Seq(
      ev(201, 10, 1, "click", 0), ev(202, 25, 1, "click", 0),
      ev(203, 40, 1, "click", 0), ev(204, 20, 2, "click", 0),
      ev(205, 8, 3, "click", 0))

    val vIn = MemoryStream[EventRow](spark)
    val cIn = MemoryStream[EventRow](spark)
    val q = EventStreams.attributeClicks(vIn.toDF(), cIn.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      vIn.addData(views: _*)
      cIn.addData(clicks: _*)
      q.processAllAvailable()
      // advance both watermarks far past every event so all joins emit
      vIn.addData(ev(900, 600, 99, "view", 0))
      cIn.addData(ev(901, 600, 99, "click", 0))
      q.processAllAvailable()

      val streaming = spark.table("attrib")
        .filter(col("user_id") =!= 99) // drop the watermark-advance sentinels
        .select("user_id", "view_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      val batch = EventStreams
        .attributeClicks(views.toDF(), clicks.toDF(), "30 minutes")
        .select("user_id", "view_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(streaming == batch)
      assert(streaming == Seq((1L, 101L, 201L), (1L, 101L, 202L), (2L, 102L, 204L)))
    } finally q.stop()
  }

  test("streamingDedup drops repeats of a key within the watermark horizon") {
    val input = MemoryStream[EventRow](spark)
    val q = EventStreams.streamingDedup(input.toDF(), Seq("event_id"), "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      input.addData(ev(10, 1, 1, "click", 1.0), ev(10, 2, 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(ev(10, 3, 1, "click", 1.0), ev(11, 4, 1, "view", 2.0))
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
      assert(got.toSeq == Seq(10L, 11L))
    } finally q.stop()
  }

  test("sessionize emits closed sessions exactly once with totals") {
    val input = MemoryStream[EventRow](spark)
    val sessions = EventStreams.sessionize(
      input.toDS().withWatermark("ts", "0 seconds").as[EventRow],
      gapMs = 10 * 60000L)
    val q = sessions.writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      // user 1: events at 1m and 5m (one session); user 2: event at 2m
      input.addData(ev(1, 1, 1, "a", 1.0), ev(2, 5, 1, "a", 2.0), ev(3, 2, 2, "b", 5.0))
      q.processAllAvailable()
      // 100m pushes the watermark far past both sessions' end + gap
      input.addData(ev(4, 100, 3, "c", 0.0))
      q.processAllAvailable()
      // one more trigger so the timeout fires after the watermark advance
      input.addData(ev(5, 101, 3, "c", 0.0))
      q.processAllAvailable()

      val got = spark.table("sessions_out")
        .orderBy("user_id").as[graft.streaming.UserSession].collect()
      assert(got.map(_.user_id).toSeq == Seq(1L, 2L))
      val u1 = got(0)
      assert(u1.n_events == 2 && u1.total_value == 3.0)
      assert(u1.session_start == ts(1) && u1.session_end == ts(5))
      val u2 = got(1)
      assert(u2.n_events == 1 && u2.total_value == 5.0)

      // an in-trigger gap split: two sessions; the first closes once the
      // watermark passes its end + gap (no premature emission — a late
      // event inside the horizon could still have extended it)
      input.addData(ev(6, 200, 4, "d", 1.0), ev(7, 230, 4, "d", 2.0))
      q.processAllAvailable()
      input.addData(ev(8, 235, 5, "e", 0.0)) // watermark -> 235: past 200+gap, NOT past 230+gap
      q.processAllAvailable()
      input.addData(ev(9, 236, 5, "e", 0.0))
      q.processAllAvailable()
      val u4 = spark.table("sessions_out").filter(col("user_id") === 4L)
        .as[graft.streaming.UserSession].collect()
      assert(u4.length == 1 && u4.head.n_events == 1 && u4.head.total_value == 1.0)
    } finally q.stop()
  }

  test("sessionize merges an out-of-order event into the right session") {
    val input = MemoryStream[EventRow](spark)
    val sessions = EventStreams.sessionize(
      input.toDS().withWatermark("ts", "2 hours").as[EventRow],
      gapMs = 10 * 60000L)
    val q = sessions.writeStream.format("memory").queryName("ooo_sessions")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      // trigger 1: one event at 60m -> open session [60, 60]
      input.addData(ev(1, 60, 1, "a", 1.0))
      q.processAllAvailable()
      // trigger 2: a LATE event at 55m (within watermark, within gap of
      // the open session) must extend session_start backward, and one at
      // 10m (outside the gap) must form its OWN earlier session
      input.addData(ev(2, 55, 1, "a", 2.0), ev(3, 10, 1, "a", 4.0))
      q.processAllAvailable()
      // advance the watermark far past everything, then let timeouts fire
      input.addData(ev(4, 500, 2, "b", 0.0))
      q.processAllAvailable()
      input.addData(ev(5, 501, 2, "b", 0.0))
      q.processAllAvailable()
      val got = spark.table("ooo_sessions").filter(col("user_id") === 1L)
        .orderBy("session_start").as[graft.streaming.UserSession].collect()
      assert(got.length == 2)
      assert(got(0).session_start == ts(10) && got(0).n_events == 1
        && got(0).total_value == 4.0)
      assert(got(1).session_start == ts(55) && got(1).session_end == ts(60)
        && got(1).n_events == 2 && got(1).total_value == 3.0)
    } finally q.stop()
  }

  test("sessionWindowAgg (declarative) agrees with sessionize on closed sessions") {
    val events = Seq(
      ev(1, 1, 1, "a", 1.0), ev(2, 5, 1, "a", 2.0), ev(3, 2, 2, "b", 5.0),
      ev(6, 200, 4, "d", 1.0), ev(7, 230, 4, "d", 2.0))
    // batch run of the built-in session_window with the same 10m gap
    val got = EventStreams.sessionWindowAgg(events.toDF(), "10 minutes", "0 seconds")
      .orderBy("user_id", "session_start")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    assert(got.toSeq == Seq((1L, 2L, 3.0), (2L, 1L, 5.0), (4L, 1L, 1.0), (4L, 1L, 2.0)))
  }

  test("streamingNearDedup: hamming<=3 near-dup surfaces with missing blocks") {
    val baseText =
      "the quick brown fox jumps over the lazy dog while the cat sleeps " +
        "under the warm sun near the old stone bridge by the river bank"
    import StreamingSpec.Doc
    val input = MemoryStream[Doc](spark)
    val q = EventStreams
      .streamingNearDedup(input.toDF(), "doc_id", "text", "ts")
      .writeStream.format("memory").queryName("neardedup_out")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      input.addData(
        // doc 1 duplicates doc 0's content under a different id: simhash
        // identical -> every block collides -> zero first-seen blocks.
        // (The hamming<=3 -> >=1 shared block pigeonhole is exactness-
        // tested against brute force in DedupSpec.)
        Doc(0L, ts(1), baseText),
        Doc(1L, ts(2), baseText),
        Doc(2L, ts(3), "completely different content about spark catalyst " +
          "optimizer rules and whole stage code generation"))
      q.processAllAvailable()
      // advance the watermark past the first window so the counts emit
      input.addData(Doc(99L, ts(70), "watermark advancing document"))
      q.processAllAvailable()
      val got = spark.table("neardedup_out")
        .filter(col("doc_id") < 99)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_new_blocks")))
        .toMap
      assert(got(0L) == 4L, s"first doc must be fully novel: $got")
      assert(got.getOrElse(1L, 0L) < 4L, s"duplicate must collide on blocks: $got")
      assert(got(2L) == 4L, s"unrelated doc must be fully novel: $got")
    } finally q.stop()
  }

  test("enrich joins each micro-batch against the broadcast static dimension") {
    val dim = Seq(("click", 2.0), ("view", 0.5)).toDF("event_type", "weight")
    val input = MemoryStream[EventRow](spark)
    val q = EventStreams.enrich(input.toDF(), dim, Seq("event_type"))
      .withColumn("weighted", col("value") * coalesce(col("weight"), lit(0.0)))
      .writeStream.format("memory").queryName("enriched_out")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      input.addData(
        ev(1, 1, 1, "click", 3.0), ev(2, 2, 2, "view", 4.0),
        ev(3, 3, 3, "purchase", 5.0)) // no dim row -> left join null -> weight 0
      q.processAllAvailable()
      val got = spark.table("enriched_out")
        .orderBy("event_id")
        .select("event_id", "weighted")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == Seq((1L, 6.0), (2L, 2.0), (3L, 0.0)))
    } finally q.stop()
  }

  test("materialized BPE tokenization streams statelessly, equal to batch (t20 shape)") {
    // the t20 projection is scan-and-expand only (two generators, no
    // aggregate), so the SAME plan runs as an append-mode stream over an
    // ingest directory — the live tokenize-on-arrival deployment shape
    import graft.functions.expressions.BpeOps
    def tokenize(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.bpeTokens(col("text")))
          .as(Seq("pt_pos", "__pt")))
      .select(col("doc_id"), col("pt_pos"),
        posexplode(BpeOps.bpeEncode(col("__pt"),
          graft.operators.Bpe.referenceMerges)).as(Seq("tok_pos", "token")))
    val docs = Tables(spark, sf0001).documents
    val src = tempDir("graft-tok-stream").toString
    docs.repartition(3).write.mode("overwrite").parquet(src)
    val q = tokenize(spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src))
      .writeStream.format("memory").queryName("tok_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .orderBy("doc_id", "pt_pos", "tok_pos").collect().map(_.toSeq).toSeq
      val streamed = canon(spark.table("tok_stream"))
      val batch = canon(tokenize(docs))
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("a learned unigram vocabulary tokenizes a stream unchanged (train batch, serve stream)") {
    // the tokenizer deployment shape for the SECOND subword family:
    // learn ONCE on the batch corpus (t25), then the Viterbi encode —
    // scan-and-expand, no aggregate — runs as a stateless append stream
    import graft.functions.expressions.UnigramOps
    val docs = Tables(spark, sf0001).documents
    val vocab = graft.operators.Unigram.learnVocab(docs, "doc_id", "text",
      UnigramOps.Params(maxPieceLen = 5, minCount = 5L, seedSize = 80,
        emIters = 1, vocabSize = 96))
    def tokenize(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.bpeTokens(col("text")))
          .as(Seq("pt_pos", "__pt")))
      .select(col("doc_id"), col("pt_pos"),
        posexplode(UnigramOps.unigramPieces(col("__pt"), vocab))
          .as(Seq("tok_pos", "token")))
    val src = tempDir("graft-uni-stream").toString
    docs.repartition(3).write.mode("overwrite").parquet(src)
    val q = tokenize(spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src))
      .writeStream.format("memory").queryName("uni_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .orderBy("doc_id", "pt_pos", "tok_pos").collect().map(_.toSeq).toSeq
      val streamed = canon(spark.table("uni_stream"))
      val batch = canon(tokenize(docs))
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("spanCorrupt streams statelessly, equal to batch (t30 example prep on arrival)") {
    // the corruption kernel is a pure per-row projection (native
    // expression, zero shuffle), so the SAME call prepares denoising
    // examples on an append stream — tokenize-and-corrupt on ingest
    val docs = Tables(spark, sf0001).documents
    val src = tempDir("graft-corrupt-stream").toString
    docs.repartition(3).write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = graft.operators.Chunking.spanCorrupt(stream, "doc_id", "text")
      .writeStream.format("memory").queryName("corrupt_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val streamed = canon(spark.table("corrupt_stream"))
      val batch = canon(graft.operators.Chunking.spanCorrupt(docs, "doc_id", "text"))
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("hashedLinearScore streams over a JSONL file source, equal to batch") {
    // The scorer is a pure projection (zero shuffle), so the SAME call
    // runs as a stateless streaming select over an ingest directory —
    // the live quality-filter deployment shape.
    val docs = Tables(spark, sf0001).documents
    val dir = tempDir("graft-jsonl-stream").toString
    graft.sources.Jsonl.writeJsonl(docs, dir)
    val stream = spark.readStream.schema(docs.schema).json(dir)
    val q = graft.operators.Scoring.hashedLinearScore(stream, "doc_id", "text")
      .writeStream.format("memory").queryName("scored_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("scored_stream").orderBy("doc_id").collect()
      val batch = graft.operators.Scoring.hashedLinearScore(docs, "doc_id", "text")
        .orderBy("doc_id").collect()
      assert(streaming.toSeq == batch.toSeq)
      assert(streaming.length == docs.count())
    } finally q.stop()
  }

  test("a fitted ridge probe scores a stream unchanged (train batch, serve stream)") {
    // the distillation deployment shape: fit ONCE on a labeled batch
    // (t22), then the probe — a pure projection — scores the live
    // ingest stream with the exact same plan
    val docs = Tables(spark, sf0001).documents
    val label = graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
    val w = graft.operators.Scoring.fitRidgeProbe(docs, "text", label, dim = 8)
    val dir = tempDir("graft-probe-stream").toString
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = graft.operators.Scoring.probeScore(stream, "doc_id", "text", w, label)
      .writeStream.format("memory").queryName("probe_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("probe_stream").orderBy("doc_id").collect()
      val batch = graft.operators.Scoring.probeScore(docs, "doc_id", "text", w, label)
        .orderBy("doc_id").collect()
      assert(streaming.toSeq == batch.toSeq && streaming.nonEmpty)
    } finally q.stop()
  }

  test("blocklistFilter: stateless safety gate scores a stream unchanged (t39 fixture)") {
    val docs = Tables(spark, sf0001).documents
    val phrases = Seq("slow fast", "data window", "the part", "spark")
    val dir = tempDir("graft-block-stream").toString
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = graft.operators.Curation
      .blocklistFilter(stream, "doc_id", "text", phrases, maxHits = 1L)
      .writeStream.format("memory").queryName("block_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("block_stream").orderBy("doc_id").collect()
      val batch = graft.operators.Curation
        .blocklistFilter(docs, "doc_id", "text", phrases, maxHits = 1L)
        .orderBy("doc_id").collect()
      assert(streaming.toSeq == batch.toSeq && streaming.nonEmpty)
    } finally q.stop()
  }

  test("madScore: a batch-fit robust baseline flags a stream identically (q75 fixture)") {
    // anomaly SERVING: fit median/MAD per key on the batch, then the
    // stateless broadcast-join projection scores live telemetry —
    // batch ≡ stream on the exact q75 fixture
    val ev = Tables(spark, sf0001).events
      .select(col("event_id"), col("event_type"), col("value"))
    val baseline = graft.operators.TimeSeries
      .madBaseline(ev, "event_type", "value")
    val dir = tempDir("graft-mad-stream").toString
    ev.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = graft.operators.TimeSeries
      .madScore(stream, baseline, "event_type", "value", threshold = 3.0)
      .writeStream.format("memory").queryName("mad_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("mad_stream").orderBy("event_id").collect()
      val batch = graft.operators.TimeSeries
        .madAnomalies(ev, "event_type", "value", threshold = 3.0)
        .orderBy("event_id").collect()
      assert(streaming.toSeq == batch.toSeq && streaming.nonEmpty)
    } finally q.stop()
  }

  test("ewmaIngestSink: additive partial tallies make stream-then-read equal one batch call, late partials included") {
    import spark.implicits._
    def t(d: Int, h: Int, m: Int) =
      Timestamp.valueOf(f"2024-01-0$d $h%02d:$m%02d:00")
    // batch 2 delivers LATE events into hour windows batch 1 already
    // tallied — additive partials must merge, not shadow
    val b1 = Seq(("a", t(1, 0, 10)), ("a", t(1, 0, 20)), ("b", t(1, 1, 0)))
    val b2 = Seq(("a", t(1, 0, 40)), ("a", t(1, 2, 5)), ("b", t(1, 0, 59)))
    val input = MemoryStream[(String, Timestamp)](spark)
    val target = tempDir("graft-ewma-out").toString
    val q = EventStreams.ewmaIngestSink(
      input.toDF.toDF("k", "ts"), "k", "ts", target, checkpoint())
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.head, "hour_epoch_s").collect().map(_.toSeq).toSeq
    val streamed = canon(
      EventStreams.ewmaProgress(spark, target).withColumnRenamed("key", "k"))
    val batchRun = canon(graft.operators.TimeSeries
      .ewmaSpikes((b1 ++ b2).toDF("k", "ts"), "k", "ts"))
    assert(streamed == batchRun && streamed.nonEmpty)
    // the log holds tally rows, not events: batch 1 wrote at most one
    // row per (key, hour) it saw
    val log0 = spark.read.parquet(s"$target/b_000000000000")
    assert(log0.count() == log0.select("key", "hour").distinct().count())
  }

  test("funnelIngestSink: stream-then-read equals one batch funnel; late arrivals re-route; noise dropped") {
    import spark.implicits._
    val steps = Seq("signup", "view", "click", "purchase")
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // batch 1: user 1's PURCHASE arrives first (out of order); user 2
    // starts; a noise event type and a null-user row must be dropped
    val b1 = Seq(
      (java.lang.Long.valueOf(1L), "purchase", t(4, 0)),
      (java.lang.Long.valueOf(2L), "signup", t(1, 0)),
      (java.lang.Long.valueOf(2L), "error", t(1, 30)),
      (null.asInstanceOf[java.lang.Long], "signup", t(1, 0)))
    // batch 2: user 1's middle steps arrive
    val b2 = Seq(
      (java.lang.Long.valueOf(1L), "view", t(2, 0)),
      (java.lang.Long.valueOf(1L), "click", t(3, 0)),
      (java.lang.Long.valueOf(2L), "view", t(2, 0)))
    // batch 3: user 1's signup arrives LAST — only now does the whole
    // chain light up; an EARLIER view for user 2 re-routes nothing
    // (greedy keeps the min qualifying time)
    val b3 = Seq(
      (java.lang.Long.valueOf(1L), "signup", t(1, 0)),
      (java.lang.Long.valueOf(2L), "view", t(1, 30)))
    val input = MemoryStream[(java.lang.Long, String, Timestamp)](spark)
    val target = tempDir("graft-funnel-out").toString
    val q = EventStreams.funnelIngestSink(
      input.toDF.toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", steps, target, checkpoint())
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()
    // a crash-partial dir without _SUCCESS stays invisible
    val partial = new java.io.File(s"$target/b_000000000099")
    assert(partial.mkdirs())
    Files.writeString(partial.toPath.resolve("part-0.parquet"), "junk")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("step").collect().map(_.toSeq).toSeq
    val streamed = canon(EventStreams.funnelProgress(spark, target, steps))
    val all = (b1 ++ b2 ++ b3).toDF("user_id", "event_type", "ts")
      .filter(col("user_id").isNotNull)
    val batchRun = canon(graft.operators.Funnel
      .funnel(all, "user_id", "event_type", "ts", steps))
    assert(streamed == batchRun)
    // the late signup completed user 1's whole chain; user 2 stops at
    // view (her view at 1:30 strictly follows signup at 1:00)
    val users = streamed.map(r => (r(0), r(2))).toMap
    assert(users == Map(1 -> 2L, 2 -> 2L, 3 -> 1L, 4 -> 1L))
  }

  test("sessionLogSink: late arrival re-cuts a session; transition/path readouts equal one batch call") {
    import spark.implicits._
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // batch 1: user 1 at 00:00 and 08:00 — a 8 h silence, TWO sessions
    val b1 = Seq(
      (java.lang.Long.valueOf(1L), 10L, "a", t(0, 0)),
      (java.lang.Long.valueOf(1L), 11L, "b", t(8, 0)),
      (null.asInstanceOf[java.lang.Long], 12L, "a", t(0, 0)))
    // batch 2: a LATE event at 04:00 bridges the gap — both halves are
    // now < 6 h apart, the two sessions MERGE into one: the previously
    // final 'a' gains a forward transition and 'b' loses its __start.
    // No tally-based log can apply that as a delta.
    val b2 = Seq((java.lang.Long.valueOf(1L), 13L, "c", t(4, 0)))
    val input = MemoryStream[(java.lang.Long, Long, String, Timestamp)](spark)
    val target = tempDir("graft-sesslog-out").toString
    val q = EventStreams.sessionLogSink(
      input.toDF.toDF("user_id", "event_id", "event_type", "ts"),
      "user_id", "event_type", "ts", "event_id", target, checkpoint())
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    def canonT(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("from_state", "to_state").collect().map(_.toSeq).toSeq
    val all = (b1 ++ b2).toDF("user_id", "event_id", "event_type", "ts")
      .filter(col("user_id").isNotNull)
    assert(canonT(EventStreams.transitionProgress(spark, target, 6L)) ==
      canonT(graft.operators.Funnel.transitionMatrix(
        all, "user_id", "event_type", "ts", "event_id", 6L)))
    // the merged session reads a>c>b — one journey, no b-entry
    val paths = EventStreams.topPathsProgress(spark, target, 6L, 5, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(paths == Seq(("a>c>b", 1L)))
    val trans = canonT(EventStreams.transitionProgress(spark, target, 6L))
      .map(r => (r(0), r(1))).toSet
    assert(trans.contains(("a", "c")) && trans.contains(("c", "b")) &&
      !trans.contains(("__start", "b")),
      s"late bridge event did not re-cut the session: $trans")
  }

  test("compactBatches: readout-invariant, marker-fenced across every crash window, head stays live") {
    import spark.implicits._
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val target = tempDir("graft-compact-out").toString
    val input = MemoryStream[(java.lang.Long, Long, String, Timestamp)](spark)
    val q = EventStreams.sessionLogSink(
      input.toDF.toDF("user_id", "event_id", "event_type", "ts"),
      "user_id", "event_type", "ts", "event_id", target, checkpoint())
    def push(rows: (java.lang.Long, Long, String, Timestamp)*): Unit = {
      input.addData(rows.toSeq); q.processAllAvailable()
    }
    def dirs(prefix: String) = new java.io.File(target).list()
      .filter(_.startsWith(prefix)).sorted.toSeq
    def readout() = EventStreams.transitionProgress(spark, target, 6L)
      .orderBy("from_state", "to_state").collect().map(_.toSeq).toSeq
    try {
      push((1L, 1L, "a", t(0)), (2L, 2L, "a", t(0)))
      push((1L, 3L, "b", t(1)))
      push((2L, 4L, "b", t(2)))
      val before = readout()

      // crash window 1: a half-written c_ dir with NO marker is invisible
      val orphan = new java.io.File(s"$target/c_000000000001")
      assert(orphan.mkdirs())
      Files.writeString(orphan.toPath.resolve("part-0.parquet"), "junk")
      assert(readout() == before, "unmarked c_ dir must be ignored")
      assert(orphan.delete() || true)
      orphan.listFiles().foreach(_.delete()); orphan.delete()

      // compact: folds b_0, b_1 into c_1; b_2 (the head) stays live
      assert(EventStreams.compactBatches(spark, target) == Some(1L))
      assert(dirs("c_") == Seq("c_000000000001"))
      assert(dirs("m_") == Seq("m_000000000001"))
      assert(dirs("b_") == Seq("b_000000000002"), "head batch must stay live")
      assert(readout() == before, "compaction changed the readout")

      // crash window 2: stale superseded dirs resurrected AFTER the
      // marker landed (a crashed cleanup) are ignored by the id rule
      val stale = new java.io.File(s"$target/b_000000000000")
      assert(stale.mkdirs())
      Files.writeString(stale.toPath.resolve("part-0.parquet"), "junk")
      Files.writeString(stale.toPath.resolve("_SUCCESS"), "")
      assert(readout() == before, "superseded b_ dir must be ignored")

      // appends after compaction keep composing
      push((1L, 5L, "c", t(3)))
      val all = Seq(
        (java.lang.Long.valueOf(1L), 1L, "a", t(0)),
        (java.lang.Long.valueOf(2L), 2L, "a", t(0)),
        (java.lang.Long.valueOf(1L), 3L, "b", t(1)),
        (java.lang.Long.valueOf(2L), 4L, "b", t(2)),
        (java.lang.Long.valueOf(1L), 5L, "c", t(3)))
        .toDF("user_id", "event_id", "event_type", "ts")
      val batchRun = graft.operators.Funnel
        .transitionMatrix(all, "user_id", "event_type", "ts", "event_id", 6L)
        .orderBy("from_state", "to_state").collect().map(_.toSeq).toSeq
      assert(readout() == batchRun)

      // second-generation compaction folds c_1 + b_2 into c_2 and
      // retires the old marker; the new head (b_3) stays live
      assert(EventStreams.compactBatches(spark, target) == Some(2L))
      assert(dirs("c_") == Seq("c_000000000002"))
      assert(dirs("m_") == Seq("m_000000000002"))
      assert(dirs("b_") == Seq("b_000000000003"))
      assert(readout() == batchRun)

      // nothing foldable below the head -> no-op, horizon reported
      assert(EventStreams.compactBatches(spark, target) == Some(2L))
      assert(readout() == batchRun)
    } finally q.stop()
  }
}

object StreamingSpec {
  /** Top-level so Spark can derive a product encoder (TypeTag). */
  case class Doc(doc_id: Long, ts: Timestamp, text: String)
}
