package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Lazy accessors for the driver-generated parquet test tables
  * (TESTDATA.md). Each accessor is a fresh lazy scan — Catalyst prunes
  * columns and pushes filters into the parquet reader per-query. The
  * schema is inferred once per table version ([[Tables.scan]]), so a
  * repeated accessor call runs no footer-inference job. */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.scan(spark, s"$dir/$name.parquet")._1

  /** Scale-adaptive scan fan-out (optimization guide §2/§6, round 15).
    *
    * The compute-heavy relations (document text, event JSON, embedding
    * vectors) pay their per-row derivation cost — tokenize / shingle /
    * minhash / `get_json_object` / vector arithmetic — in the stage
    * that READS them, and a parquet scan parallelizes at row-group
    * granularity: the driver test files are one row group each, so at
    * the bench SFs that whole stage runs on ONE core of 32 (measured:
    * p12's tokenize 1.4 s single-task, d15's shingle+minhash 1.8 s
    * single-task, g12/g17's edge derivation 1.2 s single-task).
    *
    * Fix derived from input size, not tuned to either mode: when the
    * file layout yields fewer scan splits than the session's cores,
    * hash-repartition on the table's key so the derivation stage runs
    * wide; when splits >= cores (any production-sized table) this is
    * the identity — no extra exchange at scale. Keys are chosen so the
    * added exchange doubles as the partitioning downstream operators
    * need most often (events by user_id: the session/window family's
    * own exchange). Results are partitioning-independent by contract
    * (every registered query is oracle-hash-gated; positional ops take
    * explicit order columns).
    */
  private def fanOut(name: String, key: String): DataFrame = {
    val (df, bytes) = Tables.scan(spark, s"$dir/$name.parquet")
    val cores = spark.sparkContext.defaultParallelism
    // unknown size (the listing failed): treat as at-scale, no fan-out
    if (bytes.forall(Tables.scanSplits(spark, _) >= cores)) df
    else df.repartition(cores, col(key))
  }
  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  // the two big relational tables fan out on their join key: the added
  // exchange IS the distribution the order-keyed joins/windows need
  // (q03/q86 reuse it outright), and the stat/melt/aggregate stages
  // stop running on the scan's single split at test SFs. Paired A/B,
  // round 15: q64 -57%, q08 -45%, q22 -42%, q86 -27%, q01 -24%;
  // q03/q17/q56/d24 flat; q12 +0.2 s / p06 +0.19 s (range-sort queries
  // that gain nothing from the pre-partitioning) accepted against the
  // ~3 s the wins return on this 12-query set.
  def orders: DataFrame = orders(fan = true)
  def lineitem: DataFrame = fanOut("lineitem", "l_orderkey")

  /** `fan = false` opts an orders consumer out of the scan fan-out —
    * the q12 case (round 16): a query whose only structure is a
    * RANGE-sorted window/order on a different key (o_custkey) gains
    * nothing from the o_orderkey hash exchange and pays it whole
    * (isolated min 0.740 s with vs 0.616 s without, quiet paired). */
  def orders(fan: Boolean): DataFrame =
    if (fan) fanOut("orders", "o_orderkey") else t("orders")

  /** The events parquet's `ts` physical type has varied across driver
    * testdata generations — TIMESTAMP(NANOS) (which Spark reads as a
    * nanosecond long only under the `nanosAsLong` legacy flag) and
    * TIMESTAMP(MICROS) without timezone (read natively as
    * TIMESTAMP_NTZ). This accessor adapts to whichever the files carry
    * and always yields a session-timezone `timestamp` column (UTC in
    * every entrypoint), so downstream windows/as-of joins see one type.
    *
    * DELIBERATE side effects: flips two session-wide read flags BEFORE
    * the read — neither has a per-read option, schema inference itself
    * throws on nanos files without the first, and the driver invokes
    * queries on its own session, so the accessor must be
    * self-sufficient:
    *   - `nanosAsLong`: TIMESTAMP(NANOS) columns read as long (the only
    *     way Spark reads them at all), converted to micros below;
    *   - `inferTimestampNTZ.enabled=false`: TIMESTAMP(MICROS)
    *     isAdjustedToUTC=false columns read DIRECTLY as session-tz
    *     `timestamp` in the vectorized reader — identical values under
    *     the UTC session, but without the NTZ→TZ `Cast`, whose per-row
    *     LocalDateTime round-trip measured ~13% on the events bench
    *     family (4.79 s → 5.44 s over q23/q36/q38/q57/q59/q67 at
    *     sf0.1, reps=5). */
  def events: DataFrame = events(fan = true)

  /** `fan = false` opts a consumer out of the scan fan-out: the right
    * call for queries keyed by something other than user_id (q23/q83
    * aggregate by hour/event_type; q57's post-union window cannot reuse
    * the partitioning) — for them the user_id exchange is pure waste,
    * measured +34…116% at sf0.1. User-keyed consumers (sessions,
    * resample grids, per-user chains) keep the default. */
  def events(fan: Boolean): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // fan out BEFORE the ts projection so the conversion (and every
    // downstream JSON extraction) runs wide; user_id because the
    // session/window family re-keys on it anyway — their exchange and
    // this one are the same node when the plan allows reuse
    val raw =
      if (fan) fanOut("events", "user_id") else t("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanos-as-long: truncate to micros (floor for post-epoch values)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000").cast("long")))
      case _ =>
        // already session-tz timestamp (micros files); cast is a no-op
        // guard for any future variant
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents: DataFrame = documents(fan = true)

  /** `fan = false` opts a documents consumer out of the scan fan-out —
    * the p06 case (round 16): a global RANGE-sort prefix sum over
    * doc_id cannot reuse the doc_id HASH exchange, and its per-row scan
    * compute (a length subtraction) is too cheap to need widening
    * (isolated min 0.363 s with vs 0.178 s without, quiet paired). */
  def documents(fan: Boolean): DataFrame =
    if (fan) fanOut("documents", "doc_id") else t("documents")
  // embeddings deliberately NOT fanned out BY DEFAULT: measured
  // net-negative for the family (round 15 paired A/B: s01 +176%,
  // s07 +153%, s05 +75%, s02 +81%, s03 +55%, s16 +49%) — the kNN
  // queries broadcast their query sample and scan the corpus once, so
  // the extra exchange moves every embedding array for nothing
  def embeddings: DataFrame = embeddings(fan = false)

  /** `fan = true` opts a consumer INTO the scan fan-out (round 16) —
    * the inverse of the events/documents opt-out: the iterative
    * clustering family (d10/d11) and the PQ encode pass (s11) pay
    * multi-second scan-local vector math that the round-15 measurement
    * showed benefits from widening (d10 −11/−24%, s11 −9/−11% paired)
    * even though the family default stays bare. */
  def embeddings(fan: Boolean): DataFrame =
    if (fan) fanOut("embeddings", "vec_id")
    else t("embeddings")
}

object Tables {
  /** Parquet settings that change what schema inference returns; the
    * events accessor flips the first two. */
  private val inferenceSettings = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  /** A table version: the recursive listing of its files as
    * (name, length, modification time), sorted by name. */
  private[graft] type Listing = Seq[(String, Long, Long)]

  /** Inferred schemas per session, keyed by (path, inference settings)
    * and valid for one listing. Weak in the session, so a stopped and
    * dropped session is not kept alive; a rewrite of the table changes
    * its listing and replaces the entry. */
  private val schemas = new java.util.WeakHashMap[
    SparkSession, ConcurrentHashMap[(String, Seq[String]), (Listing, StructType)]]()

  /** The files under `path`, walked with `listStatus` as Spark's own
    * `HadoopFSUtils` lists them. `listFiles(path, recursive = true)`
    * would return the same triples, but it builds a `LocatedFileStatus`
    * per file, whose constructor reads the file's permissions, and
    * without the native Hadoop library the local file system forks
    * `ls -ld` for that, once per file. */
  private[graft] def listing(spark: SparkSession, path: String): Listing = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { f =>
        if (f.isDirectory) walk(f.getPath)
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    walk(hp).sortBy(_._1)
  }

  /** The parquet table at `path` as a lazy scan, and its input bytes.
    *
    * The schema is inferred once per (session, path, listing, inference
    * settings) and later scans read with `spark.read.schema(...)`, which
    * runs no footer-inference job (Frames' `tableTypes`: infer once,
    * reuse). The listing is taken on every call, so a table rewritten in
    * place is inferred again, never served a stale schema; the byte total
    * comes from the same listing. If the listing fails, the scan falls
    * back to plain inference and the size is unknown (None). */
  private[graft] def scan(spark: SparkSession, path: String): (DataFrame, Option[Long]) = {
    val files =
      try listing(spark, path)
      catch {
        case e: Exception =>
          org.slf4j.LoggerFactory.getLogger("graft.Tables").warn(
            s"listing of $path failed (${e.getClass.getName}: " +
              s"${e.getMessage}); inferring its schema this call")
          return (spark.read.parquet(path), None)
      }
    val key = (path, inferenceSettings.map(k => spark.conf.getOption(k).orNull))
    val perSession = schemas.synchronized(
      schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap()))
    val df = Option(perSession.get(key)) match {
      case Some((seen, schema)) if seen == files => spark.read.schema(schema).parquet(path)
      case _ =>
        val inferred = spark.read.parquet(path)
        perSession.put(key, (files, inferred.schema))
        inferred
    }
    (df, Some(files.map(_._2).sum))
  }

  /** Estimated scan-split count for a table of `bytes` input bytes:
    * bytes over `spark.sql.files.maxPartitionBytes` — the same quantity
    * Spark's file source uses to slice a scan, minus the open-cost
    * refinement (irrelevant for the single-file test tables and an
    * underestimate never flips the fan-out the wrong way: fewer estimated
    * splits only widens a scan that was already narrow). */
  private[graft] def scanSplits(spark: SparkSession, bytes: Long): Long = {
    val maxSplit =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
          .stripSuffix("b"))
      catch { case _: Throwable => 134217728L }
    math.max(1L, (bytes + maxSplit - 1) / maxSplit)
  }
}
