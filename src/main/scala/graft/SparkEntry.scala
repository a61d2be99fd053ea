package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Corpus, CsvQueries, MultimodalQueries, QueryDef, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator demonstration from SURVEY §2
  * or a training-pipeline extension (dedup / similarity / text analysis /
  * multimodal / pipeline composition); EVERY entry has a DuckDB oracle in
  * [[oracleSql]] hash-compared by the driver at sf0.01 — the hash-sketch
  * pipelines via [[graft.queries.OracleSql]]'s exact xxhash64 emulation.
  */
object SparkEntry {

  val allQueries: Seq[QueryDef] =
    Relational.all ++ Corpus.all ++ CsvQueries.all ++ MultimodalQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01_agg_pricing.run(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q =>
      q.oracle.orElse(q.oracleFn.map(_())).map(o => q.name -> o.trim)).toMap
}
