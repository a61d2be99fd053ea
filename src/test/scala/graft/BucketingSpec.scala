package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.functions._
import graft.operators.{Bucketing, Dedup, Similarity}

/** Bucketed tables: the join/aggregation plans must contain NO Exchange —
  * the write-time bucket layout replaces the runtime shuffle. */
class BucketingSpec extends SparkSpec {

  test("persisted IVF index: probe equals inline ivfKnn; index side unshuffled, buckets pruned") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", 16)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids,
      "ivf_idx_spec", numBuckets = 16)
    try {
      val queries = emb.filter(col("vec_id") < 5)
      def run(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      val probe = Similarity.probeIvfIndex(spark, "ivf_idx_spec", queries,
        "vec_id", "embedding", k = 5, centroids = centroids, nProbe = 3)
      val inline = Similarity.ivfKnn(emb, queries,
        "vec_id", "embedding", k = 5, centroids = centroids, nProbe = 3)
      // bit-identical neighbors through the persisted path
      assert(run(probe) == run(inline))
      val ps = probe.queryExecution.executedPlan.toString
      // the ONLY hash shuffle is the final top-k window on query_id —
      // the index side joins via the broadcast query side, unshuffled
      val shuffles = "Exchange hashpartitioning".r.findAllIn(ps).toSeq
      assert(shuffles.size == 1, s"expected only the top-k window shuffle:\n$ps")
      // the literal probe-cell filter prunes non-probed buckets in-scan
      val pruned = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(ps)
      assert(pruned.isDefined, s"no bucket pruning in scan:\n$ps")
      assert(pruned.get.group(1).toInt < pruned.get.group(2).toInt,
        s"probe should not read every bucket: ${pruned.get.matched}")
    } finally spark.sql("DROP TABLE IF EXISTS ivf_idx_spec")
  }

  test("persisted dedup index: probe equals inline incrementalDedup; index tables never shuffle") {
    val docs = Tables(spark, sf0001).documents
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    Dedup.writeDedupIndex(corpus, "doc_id", "text", "dedup_idx_spec", numBuckets = 8)
    try {
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val probe = Dedup.incrementalDedupIndexed(
        spark, "dedup_idx_spec", batch, "doc_id", "text")
      val inline = Dedup.incrementalDedup(corpus, batch, "doc_id", "text")
      assert(canon(probe) == canon(inline))
      // index rows are never a shuffle's payload: between any index-table
      // scan and its nearest JOIN ancestor there must be no
      // ShuffleExchange (a shuffle above the join moves the join's
      // batch-sized output, which is fine; a shuffle directly over the
      // scan would repartition the index itself)
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      val offenders = Seq.newBuilder[String]
      def walk(p: SparkPlan, shuffledSinceJoin: Boolean): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan, shuffledSinceJoin)
        case q: QueryStageExec => walk(q.plan, shuffledSinceJoin)
        case s: FileSourceScanExec
            if s.toString.contains("dedup_idx_spec") && shuffledSinceJoin =>
          offenders += s.nodeName
        case _ =>
          val state = p match {
            case _: ShuffleExchangeExec => true
            case _: BaseJoinExec => false
            case _ => shuffledSinceJoin
          }
          p.children.foreach(walk(_, state))
          p.subqueries.foreach(walk(_, false))
      }
      walk(probe.queryExecution.executedPlan, shuffledSinceJoin = false)
      assert(offenders.result().isEmpty,
        s"index table scan shuffled before its join: ${offenders.result()}")
    } finally Seq("_exact", "_bands", "_texts").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS dedup_idx_spec$s"))
  }

  /** Data files currently under a table's catalog location. */
  private def tableFiles(table: String): Set[String] = {
    val loc = new Path(spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(loc).map(_.getPath.getName).filter(_.startsWith("part-")).toSet
  }

  /** Every directory of the warehouse that belongs to `table`: its
    * default location and the versions and stages beside it. */
  private def tableDirs(table: String): Set[String] = {
    val default = new Path(
      spark.sessionState.catalog.defaultTablePath(TableIdentifier(table)))
    val fs = default.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(default.getParent).map(_.getPath.getName)
      .filter(n => n == default.getName || n.startsWith(default.getName + "__")).toSet
  }

  /** `table` is one committed version: a MANAGED table with its bucket
    * spec, no stage entry, and no directory but its own. */
  private def assertOneVersion(table: String, numBuckets: Int): Unit = {
    val catalog = spark.sessionState.catalog
    val meta = catalog.getTableMetadata(TableIdentifier(table))
    assert(meta.tableType == CatalogTableType.MANAGED, s"$table: ${meta.tableType}")
    assert(meta.bucketSpec.map(_.numBuckets).contains(numBuckets), s"$table: ${meta.bucketSpec}")
    assert(!catalog.tableExists(TableIdentifier(s"${table}__stage")), s"$table: stage entry left")
    assert(tableDirs(table) == Set(new Path(meta.location).getName),
      s"$table: ${tableDirs(table)} beside ${meta.location}")
  }

  private def rows(table: String): Seq[String] =
    spark.table(table).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** No scan of `table` may sit under a REPARTITIONING ShuffleExchange
    * (hash/range) before reaching its join — the index side of a
    * probe/append must never itself be redistributed (shared with the
    * dedup-probe test's inline walk). A SinglePartition exchange is
    * exempt: that is the reduce step of a global aggregate (one
    * partial row per partition — e.g. the LM probe's corpus-total
    * token count), not a movement of index data. */
  private def assertIndexUnshuffled(
      plan: org.apache.spark.sql.execution.SparkPlan, table: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val offenders = Seq.newBuilder[String]
    def walk(p: SparkPlan, shuffled: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan, shuffled)
      case q: QueryStageExec => walk(q.plan, shuffled)
      case s: FileSourceScanExec if s.toString.contains(table) && shuffled =>
        offenders += s.nodeName
      case _ =>
        val state = p match {
          case e: ShuffleExchangeExec =>
            e.outputPartitioning != SinglePartition
          case _: BaseJoinExec => false
          case _ => shuffled
        }
        p.children.foreach(walk(_, state))
        p.subqueries.foreach(walk(_, false))
    }
    walk(plan, shuffled = false)
    assert(offenders.result().isEmpty,
      s"index table scan shuffled before its join: ${offenders.result()}")
  }

  test("persisted IVF-PQ index: probe equals inline; append equals rebuild; buckets pruned") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", 16)
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      inDims = 64, numSubspaces = 8, numCodes = 64)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    Similarity.writeIvfPqIndex(half, "vec_id", "embedding", centroids, cb,
      "ivfpq_app", numBuckets = 16)
    Similarity.appendIvfPqIndex("ivfpq_app", rest, "vec_id", "embedding",
      centroids, cb, numBuckets = 16)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", centroids, cb,
      "ivfpq_reb", numBuckets = 16)
    try {
      val queries = emb.filter(col("vec_id") < 5)
      def run(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      val viaAppend = run(Similarity.probeIvfPqIndex(spark, "ivfpq_app", queries,
        "vec_id", "embedding", k = 5, centroids = centroids, codebooks = cb,
        nProbe = 3))
      val viaRebuild = run(Similarity.probeIvfPqIndex(spark, "ivfpq_reb", queries,
        "vec_id", "embedding", k = 5, centroids = centroids, codebooks = cb,
        nProbe = 3))
      val inline = run(Similarity.ivfPqKnn(emb, queries, "vec_id", "embedding",
        k = 5, centroids = centroids, codebooks = cb, nProbe = 3))
      assert(viaAppend == viaRebuild, "append diverged from rebuild")
      assert(viaAppend == inline, "persisted probe diverged from inline cascade")
      assert(viaAppend.nonEmpty)
      // the probed-cell literal prunes untouched buckets in the code scan
      val probe = Similarity.probeIvfPqIndex(spark, "ivfpq_app", queries,
        "vec_id", "embedding", k = 5, centroids = centroids, codebooks = cb,
        nProbe = 3)
      val ps = probe.queryExecution.executedPlan.toString
      val pruned = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(ps)
      assert(pruned.isDefined, s"no bucket pruning in scan:\n${ps.take(3000)}")
      assert(pruned.get.group(1).toInt < pruned.get.group(2).toInt,
        s"probe should not read every bucket: ${pruned.get.matched}")
      assertIndexUnshuffled(probe.queryExecution.executedPlan, "ivfpq_app")
    } finally Seq("ivfpq_app", "ivfpq_reb").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("appendDedupIndex: append equals rebuild; existing files untouched; batch-only shuffle") {
    val docs = Tables(spark, sf0001).documents
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val mid = corpus
      .agg(((min(col("doc_id")) + max(col("doc_id"))) / 2).cast("long")).head.getLong(0)
    // ingest order: ids grow with time, so shared normalized texts have
    // their minimum id in the FIRST drop — the append ≡ rebuild regime
    Dedup.writeDedupIndex(
      corpus.filter(col("doc_id") <= mid), "doc_id", "text", "ded_app", numBuckets = 8)
    Dedup.writeDedupIndex(corpus, "doc_id", "text", "ded_reb", numBuckets = 8)
    try {
      val before = tableFiles("ded_app_exact")
      // the executed plans of the append's write jobs: the exact map's
      // already-present check must never shuffle the index side
      val appendPlans = capturePlans {
        Dedup.appendDedupIndex(spark, "ded_app",
          corpus.filter(col("doc_id") > mid), "doc_id", "text", numBuckets = 8)
      }.map(_.executedPlan)
      val after = tableFiles("ded_app_exact")
      // append-only: every pre-append data file survives, new ones arrive
      assert(before.subsetOf(after), s"append rewrote existing index files")
      assert(after.size > before.size, "append added no files")
      assert(appendPlans.nonEmpty)
      appendPlans.foreach(assertIndexUnshuffled(_, "ded_app_exact"))

      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val viaAppend = canon(Dedup.incrementalDedupIndexed(
        spark, "ded_app", batch, "doc_id", "text"))
      val viaRebuild = canon(Dedup.incrementalDedupIndexed(
        spark, "ded_reb", batch, "doc_id", "text"))
      assert(viaAppend == viaRebuild, "append diverged from rebuild")
      assert(viaAppend.nonEmpty)
    } finally Seq("ded_app", "ded_reb").foreach(t =>
      Seq("_exact", "_bands", "_texts").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $t$s")))
  }

  test("appendDedupIndex keeps the FIRST owner when a later batch reuses a text") {
    import spark.implicits._
    // index owns the text under id 10; the appended batch re-submits the
    // same text under the SMALLER id 5 — first-owner-wins means probes
    // still resolve to 10 (a rebuild over the union would elect 5)
    val first = Seq((10L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val later = Seq(
      (5L, "alpha beta gamma delta epsilon"),
      (6L, "completely unrelated content here")).toDF("doc_id", "text")
    val probe = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    Dedup.writeDedupIndex(first, "doc_id", "text", "ded_own", numBuckets = 2)
    Dedup.writeDedupIndex(first.unionByName(later), "doc_id", "text",
      "ded_own_reb", numBuckets = 2)
    try {
      Dedup.appendDedupIndex(spark, "ded_own", later, "doc_id", "text", numBuckets = 2)
      val viaAppend = Dedup.incrementalDedupIndexed(
        spark, "ded_own", probe, "doc_id", "text").head
      assert(viaAppend.getString(1) == "exact_dup")
      assert(viaAppend.getLong(2) == 10L, s"first owner must win: $viaAppend")
      val viaRebuild = Dedup.incrementalDedupIndexed(
        spark, "ded_own_reb", probe, "doc_id", "text").head
      assert(viaRebuild.getLong(2) == 5L) // rebuild re-elects the global min
    } finally Seq("ded_own", "ded_own_reb").foreach(t =>
      Seq("_exact", "_bands", "_texts").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $t$s")))
  }

  test("appendIvfIndex: probe of appended index equals rebuild and inline; buckets still prune") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", 16)
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 === 1)
    Similarity.writeIvfIndex(a, "vec_id", "embedding", centroids,
      "ivf_app", numBuckets = 16)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids,
      "ivf_reb", numBuckets = 16)
    try {
      val before = tableFiles("ivf_app")
      Similarity.appendIvfIndex("ivf_app", b, "vec_id", "embedding", centroids,
        numBuckets = 16)
      val after = tableFiles("ivf_app")
      assert(before.subsetOf(after) && after.size > before.size,
        "append must add files without rewriting existing ones")
      val queries = emb.filter(col("vec_id") < 5)
      def run(table: String) = Similarity.probeIvfIndex(spark, table, queries,
        "vec_id", "embedding", k = 5, centroids = centroids, nProbe = 3)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      val viaAppend = run("ivf_app")
      assert(canon(viaAppend) == canon(run("ivf_reb")),
        "appended IVF index diverged from rebuild")
      assert(canon(viaAppend) == canon(Similarity.ivfKnn(emb, queries,
        "vec_id", "embedding", k = 5, centroids = centroids, nProbe = 3)))
      // bucket pruning still applies to the appended table's probe
      val ps = viaAppend.queryExecution.executedPlan.toString
      val pruned = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(ps)
      assert(pruned.isDefined && pruned.get.group(1).toInt < pruned.get.group(2).toInt,
        s"appended index probe should still prune buckets:\n$ps")
    } finally Seq("ivf_app", "ivf_reb").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("filtered probe: equals inline over the pre-filtered corpus; predicate holds; buckets still prune") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", 16)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids,
      "ivf_flt_spec", numBuckets = 16, attrCols = Seq("label"))
    try {
      val queries = emb.filter(col("vec_id") < 5)
      val pred = col("label") % 3 === 1
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      val probe = Similarity.probeIvfIndex(spark, "ivf_flt_spec", queries,
        "vec_id", "embedding", k = 5, centroids = centroids, nProbe = 3,
        filter = Some(pred))
      // cell assignment is row-local, so filtering the index equals
      // filtering the corpus before an inline ivfKnn (same centroids)
      val inline = Similarity.ivfKnn(emb.filter(pred), queries,
        "vec_id", "embedding", k = 5, centroids = centroids, nProbe = 3)
      assert(canon(probe) == canon(inline))
      // PRE-filter semantics: every returned neighbor satisfies the
      // predicate (post-filtering a top-k could not guarantee this)
      val eligible = emb.filter(pred)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val rows = probe.collect()
      assert(rows.nonEmpty)
      assert(rows.forall(r => eligible(r.getAs[Long]("neighbor_id"))),
        "filtered probe returned an ineligible neighbor")
      // the metadata predicate must not defeat planning-time bucket
      // pruning on the probed cells
      val ps = probe.queryExecution.executedPlan.toString
      val pruned = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(ps)
      assert(pruned.isDefined && pruned.get.group(1).toInt < pruned.get.group(2).toInt,
        s"filtered probe should still prune buckets:\n$ps")
    } finally spark.sql("DROP TABLE IF EXISTS ivf_flt_spec")
  }

  test("purgeDedupIndex: purge equals rebuild over survivors (real corpus)") {
    val docs = Tables(spark, sf0001).documents
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    Dedup.writeDedupIndex(corpus, "doc_id", "text", "ded_pur", numBuckets = 8)
    Dedup.writeDedupIndex(corpus.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", "ded_pur_reb", numBuckets = 8)
    try {
      Dedup.purgeDedupIndex(spark, "ded_pur",
        corpus.filter(col("doc_id") % 3 === 0).select("doc_id"), numBuckets = 8)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val viaPurge = canon(Dedup.incrementalDedupIndexed(
        spark, "ded_pur", batch, "doc_id", "text"))
      val viaRebuild = canon(Dedup.incrementalDedupIndexed(
        spark, "ded_pur_reb", batch, "doc_id", "text"))
      assert(viaPurge == viaRebuild, "purge diverged from rebuild over survivors")
      assert(viaPurge.nonEmpty)
      // the purged ids are really gone: no dup_of may reference one
      viaPurge.foreach { r =>
        val dupOf = r(2)
        if (dupOf != null)
          assert(dupOf.asInstanceOf[Long] % 3 != 0, s"purged id served: $r")
      }
    } finally Seq("ded_pur", "ded_pur_reb").foreach(t =>
      Seq("_exact", "_bands", "_texts").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $t$s")))
  }

  test("purgeDedupIndex repairs ownership: surviving copy is re-elected, full purge forgets") {
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon"
    val idx = Seq((1L, t), (2L, t), (3L, "completely unrelated content here"))
      .toDF("doc_id", "text")
    val probe = Seq((100L, t)).toDF("doc_id", "text")
    Dedup.writeDedupIndex(idx, "doc_id", "text", "ded_own_pur", numBuckets = 2)
    try {
      // purge the owner (id 1): the surviving id 2 must take ownership —
      // NOT a dangling dup_of 1, NOT a forgotten text
      Dedup.purgeDedupIndex(spark, "ded_own_pur", Seq(1L).toDF("doc_id"), numBuckets = 2)
      val afterOwner = Dedup.incrementalDedupIndexed(
        spark, "ded_own_pur", probe, "doc_id", "text").head
      assert(afterOwner.getString(1) == "exact_dup", s"$afterOwner")
      assert(afterOwner.getLong(2) == 2L, s"surviving copy must own: $afterOwner")
      // purge the last copy too: the text is genuinely forgotten
      Dedup.purgeDedupIndex(spark, "ded_own_pur", Seq(2L).toDF("doc_id"), numBuckets = 2)
      val afterAll = Dedup.incrementalDedupIndexed(
        spark, "ded_own_pur", probe, "doc_id", "text").head
      assert(afterAll.getString(1) == "novel", s"purged text still matches: $afterAll")
    } finally Seq("_exact", "_bands", "_texts").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ded_own_pur$s"))
  }

  test("purgeIvfIndex: purge equals rebuild with fixed centroids; buckets still prune") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", 16)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids,
      "ivf_pur", numBuckets = 16)
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", centroids, "ivf_pur_reb", numBuckets = 16)
    try {
      Similarity.purgeIvfIndex(spark, "ivf_pur",
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), numBuckets = 16)
      val queries = emb.filter(col("vec_id") < 5)
      def run(table: String) = Similarity.probeIvfIndex(spark, table, queries,
        "vec_id", "embedding", k = 5, centroids = centroids, nProbe = 3)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      val viaPurge = run("ivf_pur")
      assert(canon(viaPurge) == canon(run("ivf_pur_reb")),
        "purged IVF index diverged from rebuild over survivors")
      assert(canon(viaPurge).nonEmpty)
      viaPurge.collect().foreach(r =>
        assert(r.getAs[Long]("neighbor_id") % 7 != 3, s"purged vector served: $r"))
      // the swapped-in table still prunes buckets at probe time
      val ps = viaPurge.queryExecution.executedPlan.toString
      val pruned = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(ps)
      assert(pruned.isDefined && pruned.get.group(1).toInt < pruned.get.group(2).toInt,
        s"purged index probe should still prune buckets:\n$ps")
    } finally Seq("ivf_pur", "ivf_pur_reb").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("compactBucketed collapses append-accumulated files; probes and pruning unchanged") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", 16)
    // build + 3 appends: four file-sets per bucket accumulate
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 4 === 0),
      "vec_id", "embedding", centroids, "ivf_cmp", numBuckets = 8)
    (1 to 3).foreach(r => Similarity.appendIvfIndex("ivf_cmp",
      emb.filter(col("vec_id") % 4 === r), "vec_id", "embedding", centroids,
      numBuckets = 8))
    try {
      val queries = emb.filter(col("vec_id") < 5)
      def run() = Similarity.probeIvfIndex(spark, "ivf_cmp", queries,
        "vec_id", "embedding", k = 5, centroids = centroids, nProbe = 3)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      val before = canon(run())
      val filesBefore = tableFiles("ivf_cmp").size
      Bucketing.compactBucketed(spark, "ivf_cmp", Seq("cell"), numBuckets = 8,
        sortCols = Seq("cell", "neighbor_id"))
      val filesAfter = tableFiles("ivf_cmp").size
      assert(filesAfter < filesBefore,
        s"compaction should shrink file count: $filesBefore -> $filesAfter")
      val after = run()
      assert(canon(after) == before, "compaction changed probe results")
      val ps = after.queryExecution.executedPlan.toString
      val pruned = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(ps)
      assert(pruned.isDefined && pruned.get.group(1).toInt < pruned.get.group(2).toInt,
        s"compacted index probe should still prune buckets:\n$ps")
    } finally spark.sql("DROP TABLE IF EXISTS ivf_cmp")
  }

  test("span index: probe matches duplicatedSpans truth; append equals rebuild, files untouched") {
    val docs = Tables(spark, sf0001).documents
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val mid = corpus
      .agg(((min(col("doc_id")) + max(col("doc_id"))) / 2).cast("long")).head.getLong(0)
    Dedup.writeSpanIndex(corpus.filter(col("doc_id") <= mid),
      "doc_id", "text", "span_app", numBuckets = 8)
    Dedup.writeSpanIndex(corpus, "doc_id", "text", "span_reb", numBuckets = 8)
    try {
      val before = tableFiles("span_app_spans")
      val appendPlans = capturePlans {
        Dedup.appendSpanIndex(spark, "span_app",
          corpus.filter(col("doc_id") > mid), "doc_id", "text", numBuckets = 8)
      }.map(_.executedPlan)
      val after = tableFiles("span_app_spans")
      assert(before.subsetOf(after) && after.size > before.size,
        "append must add files without rewriting existing ones")
      // the keyed semi/anti must leave the index side exchange-free —
      // only the batch hashes shuffle into the index bucketing
      assert(appendPlans.nonEmpty)
      appendPlans.foreach(assertIndexUnshuffled(_, "span_app_spans"))
      // distinct-hash invariant survives the append
      val total = spark.table("span_app_spans").count()
      assert(total == spark.table("span_app_spans").distinct().count(),
        "append introduced duplicate hashes")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val viaAppend = canon(Dedup.probeSpanIndex(
        spark, "span_app", batch, "doc_id", "text"))
      assert(viaAppend == canon(Dedup.probeSpanIndex(
        spark, "span_reb", batch, "doc_id", "text")),
        "append diverged from rebuild")
      // inline truth: duplicated windows of (corpus ∪ batch) restricted
      // to batch docs whose duplicate lives in the CORPUS — via a probe
      // of an index over the corpus, vs the d16 profile on corpus-only
      // text prepended to each batch doc? Simplest exact truth: every
      // batch doc duplicated entirely in the corpus must report full
      // coverage, and a batch doc with no corpus-shared window reports 0
      val probe = Dedup.probeSpanIndex(spark, "span_reb", batch, "doc_id", "text")
      assert(probe.filter(col("n_dup_windows") > 0).count() > 0, "vacuous probe")
      // the batch windows shuffle INTO the index's hash bucketing; the
      // index side must satisfy the join from its files (zero exchange)
      assertIndexUnshuffled(probe.queryExecution.executedPlan, "span_reb_spans")
      val full = probe.filter(col("n_windows") > 0 &&
        col("n_dup_windows") === col("n_windows"))
      full.collect().foreach(r =>
        assert(r.getAs[Long]("dup_tokens") == r.getAs[Long]("n_tokens"),
          s"fully-duplicated doc must be fully covered: $r"))
    } finally Seq("span_app_spans", "span_reb_spans").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("index probes tolerate an EMPTY batch (post-recovery empty micro-batch shape)") {
    import spark.implicits._
    // streaming sinks replay through foreachBatch with possibly-empty
    // batches after checkpoint recovery; both probe paths must plan and
    // run with zero query rows (probeIvfIndex's probed-cell isin goes
    // empty; the dedup joins see an empty broadcast side)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", 8)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids,
      "ivf_empty_spec", numBuckets = 8)
    val docs = Tables(spark, sf0001).documents
    Dedup.writeDedupIndex(docs.limit(50), "doc_id", "text",
      "ded_empty_spec", numBuckets = 2)
    try {
      val noVecs = emb.filter(col("vec_id") < 0)
      assert(Similarity.probeIvfIndex(spark, "ivf_empty_spec", noVecs,
        "vec_id", "embedding", k = 5, centroids = centroids, nProbe = 2)
        .count() == 0)
      val noDocs = docs.filter(col("doc_id") < 0)
      assert(Dedup.incrementalDedupIndexed(spark, "ded_empty_spec", noDocs,
        "doc_id", "text").count() == 0)
      // and an empty APPEND is a no-op, not a failure
      Dedup.appendDedupIndex(spark, "ded_empty_spec", noDocs, "doc_id", "text",
        numBuckets = 2)
      Similarity.appendIvfIndex("ivf_empty_spec", noVecs, "vec_id", "embedding",
        centroids, numBuckets = 8)
      assert(spark.table("ded_empty_spec_exact").count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_empty_spec")
      Seq("_exact", "_bands", "_texts").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS ded_empty_spec$s"))
    }
  }

  test("bucketed join and aggregation plan with zero Exchange") {
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val lineitem = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .withColumnRenamed("l_orderkey", "o_orderkey")

    Bucketing.writeBucketed(orders, "orders_b", Seq("o_orderkey"), 8)
    Bucketing.writeBucketed(lineitem, "lineitem_b", Seq("o_orderkey"), 8)
    // disable broadcast so the tiny test tables take the same sort-merge
    // path a 100 TB fact-to-fact join would
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.bucketedJoin(
        spark, "lineitem_b", "orders_b", Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")

      // values identical to the shuffled join
      val expected = lineitem.join(orders, Seq("o_orderkey")).count()
      assert(joined.count() == expected)

      // aggregation on the bucket key also skips the shuffle
      val agg = spark.table("lineitem_b")
        .groupBy("o_orderkey").agg(sum("l_quantity"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("persisted LM index: append+probe equals rebuild equals inline; index unshuffled") {
    import graft.operators.TfIdf
    val docs = Tables(spark, sf0001).documents
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val eval = docs.filter(col("doc_id") % 5 === 0)
    TfIdf.writeLmIndex(
      train.filter(col("doc_id") % 2 === 0), "text", "lm_app", numBuckets = 8)
    TfIdf.appendLmIndex(
      spark, "lm_app", train.filter(col("doc_id") % 2 =!= 0), "text", numBuckets = 8)
    TfIdf.writeLmIndex(train, "text", "lm_reb", numBuckets = 8)
    try {
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val viaAppend = canon(
        TfIdf.scoreWithLmIndex(spark, "lm_app", eval, "doc_id", "text"))
      val viaRebuild = canon(
        TfIdf.scoreWithLmIndex(spark, "lm_reb", eval, "doc_id", "text"))
      val inline = canon(
        TfIdf.stupidBackoffScore(train, eval, "doc_id", "text"))
      // counts are additive, so the appended index must serve the exact
      // one-shot model — and both must equal the inline face
      assert(viaAppend == viaRebuild, "append diverged from rebuild")
      assert(viaAppend == inline, "persisted path diverged from inline")
      assert(viaAppend.nonEmpty)
      // the probe never repartitions the index: partial-count sums
      // aggregate within buckets, the scoring joins shuffle only the
      // eval trigrams into the tables' layout
      val probe = TfIdf.scoreWithLmIndex(spark, "lm_app", eval, "doc_id", "text")
      probe.collect(): Unit
      Seq("lm_app_uni", "lm_app_big", "lm_app_tri").foreach(t =>
        assertIndexUnshuffled(probe.queryExecution.executedPlan, t))
    } finally
      Seq("lm_app", "lm_reb").foreach(t =>
        Seq("_uni", "_big", "_tri").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS $t$s")))
  }

  test("co-occurrence index: append equals rebuild; cross-batch pairs; probe unshuffled") {
    import graft.operators.Graph
    val ev = Tables(spark, sf0001).events.select(
      col("event_id"), col("user_id"),
      get_json_object(col("props"), "$.k").cast("long").as("item"))
    val first = ev.filter(col("event_id") % 2 === 0)
    val second = ev.filter(col("event_id") % 2 =!= 0)
    Graph.writeCooccurrenceIndex(spark, "co_app", first, "user_id", "item")
    Graph.appendCooccurrence(spark, "co_app", second, "user_id", "item")
    Graph.writeCooccurrenceIndex(spark, "co_reb", ev, "user_id", "item")
    try {
      val probes = ev.filter(col("item") < 25)
      def canon(t: String) = Graph.probeCoItems(spark, t, probes, "item", 5)
        .orderBy("item", "rank").collect().map(_.toSeq).toSeq
      val viaAppend = canon("co_app")
      // pair deltas are once-per-(user, unordered pair) — the split
      // build must serve the exact one-shot answer
      assert(viaAppend == canon("co_reb"), "append diverged from rebuild")
      assert(viaAppend.nonEmpty)
      // a user whose two items arrive in DIFFERENT batches still forms
      // the pair: a synthetic user sends item 7001 in the build batch
      // and 7002 only in the append — the pair must exist afterwards
      import spark.implicits._
      val uA = Seq((999999L, 7001L)).toDF("user_id", "item")
      val uB = Seq((999999L, 7002L)).toDF("user_id", "item")
      Graph.writeCooccurrenceIndex(spark, "co_x", uA, "user_id", "item")
      Graph.appendCooccurrence(spark, "co_x", uB, "user_id", "item")
      val cross = Graph.probeCoItems(spark, "co_x",
        Seq(7001L).toDF("item"), "item", 5).collect()
      assert(cross.map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("weight"))).toSeq == Seq((7001L, 7002L, 1L)))
      // probe: the bucket layout replaces the aggregation shuffle
      val probe = Graph.probeCoItems(spark, "co_app", probes, "item", 5)
      probe.collect(): Unit
      assertIndexUnshuffled(probe.queryExecution.executedPlan, "co_app_pairs")
    } finally
      Seq("co_app", "co_reb", "co_x").foreach(t =>
        Seq("_profile", "_pairs").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS $t$s")))
  }

  test("purgeCooccurrence: negated-delta purge equals rebuild over survivors") {
    import graft.operators.Graph
    val ev = Tables(spark, sf0001).events.select(
      col("user_id"),
      get_json_object(col("props"), "$.k").cast("long").as("item"))
    Graph.writeCooccurrenceIndex(spark, "co_pur", ev, "user_id", "item")
    Graph.purgeCooccurrence(spark, "co_pur",
      ev.filter(col("user_id") % 3 === 0).select(col("user_id")))
    Graph.writeCooccurrenceIndex(spark, "co_srv",
      ev.filter(col("user_id") % 3 =!= 0), "user_id", "item")
    try {
      val probes = ev.filter(col("item") < 25)
      def canon(t: String) = Graph.probeCoItems(spark, t, probes, "item", 5)
        .orderBy("item", "rank").collect().map(_.toSeq).toSeq
      assert(canon("co_pur") == canon("co_srv"), "purge diverged from rebuild")
      assert(canon("co_pur").nonEmpty)
      // the personal rows are GONE, not just masked
      assert(spark.table("co_pur_profile")
        .filter(col("__u") % 3 === 0).count() == 0L)
      // a pair formed ONLY by purged users nets to zero and vanishes
      import spark.implicits._
      Graph.writeCooccurrenceIndex(spark, "co_z",
        Seq((7L, 9001L), (7L, 9002L)).toDF("user_id", "item"),
        "user_id", "item")
      Graph.purgeCooccurrence(spark, "co_z", Seq(7L).toDF("user_id"))
      assert(Graph.probeCoItems(spark, "co_z",
        Seq(9001L).toDF("item"), "item", 5).count() == 0L)
    } finally
      Seq("co_pur", "co_srv", "co_z").foreach(t =>
        Seq("_profile", "_pairs").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS $t$s")))
  }

  test("purgeLmIndex: negative-count purge equals rebuild over survivors") {
    import graft.operators.TfIdf
    val docs = Tables(spark, sf0001).documents
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val eval = docs.filter(col("doc_id") % 5 === 0)
    val removed = train.filter(col("doc_id") % 3 === 0)
    val survivors = train.filter(col("doc_id") % 3 =!= 0)
    TfIdf.writeLmIndex(train, "text", "lm_pur", numBuckets = 8)
    TfIdf.purgeLmIndex(spark, "lm_pur", removed, "text", numBuckets = 8)
    TfIdf.writeLmIndex(survivors, "text", "lm_sur", numBuckets = 8)
    try {
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val purged = canon(
        TfIdf.scoreWithLmIndex(spark, "lm_pur", eval, "doc_id", "text"))
      val rebuilt = canon(
        TfIdf.scoreWithLmIndex(spark, "lm_sur", eval, "doc_id", "text"))
      val inline = canon(
        TfIdf.stupidBackoffScore(survivors, eval, "doc_id", "text"))
      // net-zero keys must be exactly as absent as a rebuild leaves
      // them — every backoff arm (trigram, bigram, unigram, OOV floor)
      // re-decides on the netted counts
      assert(purged == rebuilt, "purge diverged from rebuild over survivors")
      assert(purged == inline)
      assert(purged.nonEmpty)
      // the purge genuinely zeroed keys (not a vacuous pass): the
      // netted trigram relation must be strictly smaller than the
      // pre-purge distinct-key count
      val netKeys = spark.table("lm_pur_tri")
        .groupBy(col("__g3")).agg(sum(col("__t")).as("__t"))
        .filter(col("__t") > 0).count()
      val allKeys = spark.table("lm_pur_tri").select("__g3").distinct().count()
      assert(netKeys < allKeys, s"no trigram key zeroed out ($netKeys of $allKeys)")
    } finally
      Seq("lm_pur", "lm_sur").foreach(t =>
        Seq("_uni", "_big", "_tri").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS $t$s")))
  }

  test("persisted linkage reference: probe equals inline; append equals rebuild; index unshuffled") {
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
    Linkage.writeReferenceIndex(spark, "link_app",
      ref.filter(col("id") % 2 === 0), "id", Seq("nat"), fields)
    Linkage.appendReference(spark, "link_app",
      ref.filter(col("id") % 2 =!= 0), "id", Seq("nat"), fields)
    Linkage.writeReferenceIndex(spark, "link_reb",
      ref, "id", Seq("nat"), fields)
    try {
      def run(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
      val viaAppend = run(Linkage.probeReferenceIndex(
        spark, "link_app", probe, "id", Seq("nat"), fields, 0.0, 5.0))
      val viaRebuild = run(Linkage.probeReferenceIndex(
        spark, "link_reb", probe, "id", Seq("nat"), fields, 0.0, 5.0))
      val inline = run(Linkage.fellegiSunter(
        probe, ref, "id", Seq("nat"), fields, 0.0, 5.0))
      assert(viaAppend == viaRebuild, "append diverged from rebuild")
      assert(viaAppend == inline, "persisted probe diverged from inline linkage")
      assert(viaAppend.nonEmpty)
      val plan = Linkage.probeReferenceIndex(
        spark, "link_app", probe, "id", Seq("nat"), fields, 0.0, 5.0)
        .queryExecution.executedPlan
      assertIndexUnshuffled(plan, "link_app")
    } finally Seq("link_app", "link_reb").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  // ---------------- stage-then-commit rewrites ----------------

  test("a failed writeIvfIndex rebuild keeps the previous version, still bucket-pruned") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", 16)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids,
      "ivf_fail", numBuckets = 16)
    try {
      val queries = emb.filter(col("vec_id") < 5)
      def probe() = Similarity.probeIvfIndex(spark, "ivf_fail", queries,
        "vec_id", "embedding", k = 5, centroids = centroids, nProbe = 3)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      val before = rows("ivf_fail")
      val probedBefore = canon(probe())
      // one id's vector raises while the new version is being written
      val bad = emb.agg(max(col("vec_id"))).head.get(0)
      val poisoned = emb.withColumn("embedding",
        when(col("vec_id") === bad, raise_error(lit("poisoned vector")))
          .otherwise(col("embedding")))
      intercept[Exception](Similarity.writeIvfIndex(poisoned, "vec_id", "embedding",
        centroids, "ivf_fail", numBuckets = 16))
      assert(rows("ivf_fail") == before, "a failed rebuild changed the live index")
      val after = probe()
      assert(canon(after) == probedBefore)
      val ps = after.queryExecution.executedPlan.toString
      val pruned = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(ps)
      assert(pruned.isDefined && pruned.get.group(1).toInt < pruned.get.group(2).toInt,
        s"probe after a failed rebuild should still prune buckets:\n$ps")
      assertOneVersion("ivf_fail", 16)
    } finally spark.sql("DROP TABLE IF EXISTS ivf_fail")
  }

  test("a failed writeDedupIndex rebuild keeps _exact, _bands and _texts at their previous version") {
    val docs = Tables(spark, sf0001).documents
    val parts = Seq("_exact", "_bands", "_texts")
    Dedup.writeDedupIndex(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
      "ded_fail", numBuckets = 8)
    try {
      val before = parts.map(p => rows(s"ded_fail$p"))
      val bad = docs.agg(max(col("doc_id"))).head.get(0)
      val poisoned = docs.withColumn("text",
        when(col("doc_id") === bad, raise_error(lit("poisoned text"))).otherwise(col("text")))
      intercept[Exception](Dedup.writeDedupIndex(poisoned, "doc_id", "text",
        "ded_fail", numBuckets = 8))
      assert(parts.map(p => rows(s"ded_fail$p")) == before,
        "a failed rebuild changed the live index")
      parts.foreach(p => assertOneVersion(s"ded_fail$p", 8))
    } finally parts.foreach(p => spark.sql(s"DROP TABLE IF EXISTS ded_fail$p"))
  }

  test("a multi-table writeBucketed whose second table fails commits neither") {
    import spark.implicits._
    import Bucketing.Target
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Bucketing.writeBucketed(2, Target(v1, "multi_a", Seq("k")), Target(v1, "multi_b", Seq("k")))
    try {
      val before = (rows("multi_a"), rows("multi_b"))
      val v2 = Seq((3L, "c")).toDF("k", "v")
      val failing = v2.withColumn("v", raise_error(lit("second table fails")).cast("string"))
      intercept[Exception](Bucketing.writeBucketed(2,
        Target(v2, "multi_a", Seq("k")), Target(failing, "multi_b", Seq("k"))))
      assert((rows("multi_a"), rows("multi_b")) == before,
        "a table was committed although another failed to stage")
      Seq("multi_a", "multi_b").foreach(assertOneVersion(_, 2))
    } finally Seq("multi_a", "multi_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("a rewrite after a crashed attempt's leftover stage succeeds and removes it") {
    import spark.implicits._
    Bucketing.writeBucketed(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "left_stage", Seq("k"), 2)
    try {
      // what a crash inside a stage write leaves: an external stage
      // entry and its directory beside the live version
      val crashed = spark.sessionState.catalog
        .defaultTablePath(TableIdentifier("left_stage")).toString + "__vcrashed"
      Seq((9L, "z")).toDF("k", "v").write.option("path", crashed)
        .saveAsTable("left_stage__stage")
      assert(tableDirs("left_stage").size == 2)
      Bucketing.writeBucketed(Seq((3L, "c")).toDF("k", "v"), "left_stage", Seq("k"), 2)
      assert(rows("left_stage") == Seq("3|c"))
      assertOneVersion("left_stage", 2)
    } finally Seq("left_stage", "left_stage__stage").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("every rewrite, purge and compaction leaves one MANAGED bucketed version; DROP TABLE removes it") {
    import graft.operators.Graph
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", 8)
    val docs = Tables(spark, sf0001).documents.filter(col("doc_id") % 5 =!= 0)
    val ev = Tables(spark, sf0001).events.select(
      col("user_id"), get_json_object(col("props"), "$.k").cast("long").as("item"))
    val dedup = Seq("_exact", "_bands", "_texts").map("ded_ver" + _)
    val tables = Seq("ivf_ver", "co_ver_profile", "co_ver_pairs") ++ dedup
    try {
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        centroids, "ivf_ver", numBuckets = 8)
      assertOneVersion("ivf_ver", 8)
      val first = tableDirs("ivf_ver")
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids, "ivf_ver", numBuckets = 8)
      assertOneVersion("ivf_ver", 8)
      assert(tableDirs("ivf_ver") != first, "a rewrite must commit a new version directory")
      Similarity.purgeIvfIndex(spark, "ivf_ver",
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), numBuckets = 8)
      assertOneVersion("ivf_ver", 8)
      Similarity.appendIvfIndex("ivf_ver", emb.filter(col("vec_id") % 7 === 3),
        "vec_id", "embedding", centroids, numBuckets = 8)
      Bucketing.compactBucketed(spark, "ivf_ver", Seq("cell"), numBuckets = 8,
        sortCols = Seq("cell", "neighbor_id"))
      assertOneVersion("ivf_ver", 8)
      assert(rows("ivf_ver").size == emb.count())

      Dedup.writeDedupIndex(docs, "doc_id", "text", "ded_ver", numBuckets = 4)
      Dedup.purgeDedupIndex(spark, "ded_ver",
        docs.filter(col("doc_id") % 3 === 0).select("doc_id"), numBuckets = 4)
      dedup.foreach(assertOneVersion(_, 4))
      Graph.writeCooccurrenceIndex(spark, "co_ver", ev, "user_id", "item", numBuckets = 4)
      Graph.purgeCooccurrence(spark, "co_ver",
        ev.filter(col("user_id") % 3 === 0).select(col("user_id")), numBuckets = 4)
      Seq("co_ver_profile", "co_ver_pairs").foreach(assertOneVersion(_, 4))

      tables.foreach { t =>
        spark.sql(s"DROP TABLE $t")
        assert(tableDirs(t).isEmpty, s"DROP TABLE $t left ${tableDirs(t)}")
      }
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
