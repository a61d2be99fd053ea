package framesbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Dedup, Similarity}
import graft.sources.Csv

/** Where a run's inputs live, plus the per-run names of the index tables
  * (pid-suffixed so back-to-back runs never share a table). */
final case class Ctx(spark: SparkSession, inputs: String, scratch: String) {
  val csvLineitem = s"$inputs/csv/lineitem"
  private val tag = s"fb_p${ProcessHandle.current().pid()}"
  val dedupTable = s"${tag}_dedup"
  val ivfTable = s"${tag}_ivf"
  /** State handed from one operation to the next inside a pass. */
  val state = scala.collection.mutable.Map.empty[String, Any]
}

/** One benchmarked operation.
  *
  * `body` does the work and returns the result to materialise (None when
  * the operation's output is a table it wrote). `verify` reads back what a
  * table-writing operation stored, for the check pass only. `oracle` is the
  * DuckDB SQL whose canonical digest the checked output must equal; it may
  * name the parquet tables as views and `{csv_lineitem}` for the generated
  * CSV input. */
final case class Op(
    name: String,
    body: Ctx => Option[DataFrame],
    oracle: String,
    verify: Option[Ctx => DataFrame] = None)

object Ops {
  // ---------------------------------------------------------------------
  // CSV operations (frames_core). Their results are exact-domain
  // summaries — counts, min/max and sums of integer cents — so Spark
  // and DuckDB agree bit for bit whatever the summation order.
  // ---------------------------------------------------------------------

  val lineitemNumeric = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val lineitemText = Seq("l_returnflag", "l_linestatus", "l_shipdate")

  private def cents(c: String) = floor(col(c).cast("double") * 100 + 0.5).cast("long")
  private def centsSql(c: String) = s"CAST(floor(CAST($c AS DOUBLE) * 100 + 0.5) AS BIGINT)"

  /** One-row exact profile of every column of `df`: row count, min and
    * max of every column, non-null count of text columns and the sum of
    * integer cents of numeric ones. */
  def profile(df: DataFrame, numeric: Seq[String], text: Seq[String]): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
      numeric.flatMap(c => Seq(
        min(col(c)).cast("double").as(s"${c}_min"),
        max(col(c)).cast("double").as(s"${c}_max"),
        sum(cents(c)).as(s"${c}_cents"))) ++
      text.flatMap(c => Seq(
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"),
        count(col(c)).as(s"${c}_n"))): _*)

  def profileSql(from: String, numeric: Seq[String], text: Seq[String]): String =
    ("SELECT count(*) AS n_rows" +: (numeric.flatMap(c => Seq(
      s"CAST(min(CAST($c AS DOUBLE)) AS DOUBLE) AS ${c}_min",
      s"CAST(max(CAST($c AS DOUBLE)) AS DOUBLE) AS ${c}_max",
      s"CAST(sum(${centsSql(c)}) AS BIGINT) AS ${c}_cents")) ++
      text.flatMap(c => Seq(
        s"min($c) AS ${c}_min", s"max($c) AS ${c}_max", s"count($c) AS ${c}_n"))))
      .mkString("", ", ", s" FROM $from")

  private def csvSql(key: String) =
    s"read_csv('{$key}/*.csv', header = true, all_varchar = true)"

  val csvOps: Seq[Op] = Seq(
    Op("csv_infer_read_lineitem",
      ctx => {
        val cols = Csv.inferSchemaDistributed(ctx.spark, ctx.csvLineitem)
        Some(profile(Csv.readTableWith(ctx.spark, ctx.csvLineitem, cols),
          lineitemNumeric, lineitemText))
      },
      profileSql(csvSql("csv_lineitem"), lineitemNumeric, lineitemText)),
    Op("csv_write_reread",
      ctx => {
        val path = s"${ctx.scratch}/csv_out"
        val perOrder = Csv.readTable(ctx.spark, ctx.csvLineitem)
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_lines"), sum(cents("l_extendedprice")).as("price_cents"))
        Csv.writeCsv(perOrder, path)
        Some(profile(Csv.readTable(ctx.spark, path),
          Seq("l_orderkey", "n_lines", "price_cents"), Nil))
      },
      profileSql(
        s"""(SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, count(*) AS n_lines,
           |  sum(${centsSql("l_extendedprice")}) AS price_cents
           |  FROM ${csvSql("csv_lineitem")} GROUP BY 1)""".stripMargin,
        Seq("l_orderkey", "n_lines", "price_cents"), Nil)))

  // ---------------------------------------------------------------------
  // Registered queries, called through SparkEntry.allQueries.
  // ---------------------------------------------------------------------

  private lazy val queryDefs = SparkEntry.allQueries.map(q => q.name -> q).toMap

  def oracleOf(query: String): String =
    queryDefs(query).oracle.getOrElse(sys.error(s"no static oracle for $query")).trim

  def query(name: String): Op =
    Op(name, ctx => Some(queryDefs(name).run(ctx.spark, ctx.inputs)), oracleOf(name))

  // ---------------------------------------------------------------------
  // Index write / append / probe as direct calls: the shapes of
  // p11_incremental_dedup_append and s06_knn_ivf_append, one call per
  // operation so each is timed. The probes are checked against those
  // queries' oracles; the writes against the id set the index must hold.
  // ---------------------------------------------------------------------

  /** Index bucket count: four, the shuffle width of the session, instead
    * of the API default of 32 (32 buckets per writer task for a
    * 1,000-row index is mostly file-system work). Bucketing is layout
    * only; results are the same. */
  private val buckets = 4

  private def docs(ctx: Ctx) = graft.Tables(ctx.spark, ctx.inputs).documents
  private def corpus(ctx: Ctx) = docs(ctx).filter(col("doc_id") % 5 =!= 0)
  private def emb(ctx: Ctx) = graft.Tables(ctx.spark, ctx.inputs).embeddings
  private def mid(ctx: Ctx) = ctx.state("dedup_mid").asInstanceOf[Long]
  private def centroids(ctx: Ctx) =
    ctx.state("ivf_centroids").asInstanceOf[Array[(Long, Seq[Double])]]

  private val midSql =
    "(SELECT CAST(floor((min(doc_id) + max(doc_id)) / 2) AS BIGINT) FROM documents WHERE doc_id % 5 <> 0)"

  val dedupOps: Seq[Op] = Seq(
    Op("Dedup.writeDedupIndex",
      ctx => {
        val c = corpus(ctx)
        ctx.state("dedup_mid") = c
          .agg(((min(col("doc_id")) + max(col("doc_id"))) / 2).cast("long"))
          .head.getLong(0)
        Dedup.writeDedupIndex(c.filter(col("doc_id") <= mid(ctx)), "doc_id", "text",
          ctx.dedupTable, numBuckets = buckets)
        None
      },
      s"SELECT doc_id FROM documents WHERE doc_id % 5 <> 0 AND doc_id <= $midSql",
      Some(ctx => ctx.spark.table(s"${ctx.dedupTable}_texts").select(col("__cid").as("doc_id")))),
    Op("Dedup.appendDedupIndex",
      ctx => {
        Dedup.appendDedupIndex(ctx.spark, ctx.dedupTable,
          corpus(ctx).filter(col("doc_id") > mid(ctx)), "doc_id", "text", numBuckets = buckets)
        None
      },
      "SELECT doc_id FROM documents WHERE doc_id % 5 <> 0",
      Some(ctx => ctx.spark.table(s"${ctx.dedupTable}_texts").select(col("__cid").as("doc_id")))),
    Op("Dedup.incrementalDedupIndexed",
      ctx => Some(Dedup.incrementalDedupIndexed(ctx.spark, ctx.dedupTable,
        batch = docs(ctx).filter(col("doc_id") % 5 === 0), "doc_id", "text")),
      oracleOf("p11_incremental_dedup_append")))

  val ivfOps: Seq[Op] = Seq(
    Op("Similarity.writeIvfIndex",
      ctx => {
        val e = emb(ctx)
        ctx.state("ivf_centroids") =
          Similarity.sampleCentroids(e, "vec_id", "embedding", nCells = 16)
        Similarity.writeIvfIndex(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          centroids(ctx), ctx.ivfTable, numBuckets = buckets)
        None
      },
      "SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0",
      Some(ctx => ctx.spark.table(ctx.ivfTable).select(col("neighbor_id").as("vec_id")))),
    Op("Similarity.appendIvfIndex",
      ctx => {
        Similarity.appendIvfIndex(ctx.ivfTable, emb(ctx).filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", centroids(ctx), numBuckets = buckets)
        None
      },
      "SELECT vec_id FROM embeddings",
      Some(ctx => ctx.spark.table(ctx.ivfTable).select(col("neighbor_id").as("vec_id")))),
    Op("Similarity.probeIvfIndex",
      ctx => Some(Similarity.probeIvfIndex(ctx.spark, ctx.ivfTable,
        queries = emb(ctx).filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 5,
        centroids = centroids(ctx), nProbe = 6)),
      oracleOf("s06_knn_ivf_append")))

  /** Workload name -> its operations, in pass order. */
  lazy val workloads: Map[String, Seq[Op]] = Map(
    "frames_core" -> (csvOps :+ query("q03_join_inner")),
    "index_ingest" -> ivfOps)

  /** Operations timed in a workload's traced runs only. The dedup chain
    * is too slow for every pass within the run budget; the corpus-curation
    * queries, whose one-second passes were too noisy to gate as a workload
    * of their own, ride along on `index_ingest`, which reads the same
    * documents table. */
  lazy val probeOps: Map[String, Seq[Op]] = Map(
    "index_ingest" -> (dedupOps ++ Seq("t01_token_stats", "d03_minhash_pairs").map(query)))
}
