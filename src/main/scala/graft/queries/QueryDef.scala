package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator demonstration: a Spark query over the driver's
  * parquet tables plus (when SQL-expressible) an equivalent DuckDB oracle.
  *
  * Every query orders its output deterministically and rounds/decimal-
  * accumulates floating aggregates so the driver's value-hash compare is
  * reproducible across engines and partitionings (double addition is not
  * associative; decimal accumulation is — see Aggregates.sumExact).
  */
/** `oracleFn` is the LAZY alternative to `oracle`, for the rare query
  * whose oracle SQL depends on run-time state (t19 embeds a merge table
  * learned from the target corpus): Verify dumps oracle SQL AFTER all
  * runs in the same JVM, so the thunk can read what the run stashed. */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    oracleFn: Option[() => String] = None)
