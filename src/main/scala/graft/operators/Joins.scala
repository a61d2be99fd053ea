package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{abs, broadcast, col, count, last, levenshtein, lit, struct, unix_micros, when}

/** Multi-column equi-joins on identically-named columns, mirroring the
  * reference's four joins (acowley/Frames `src/Frames/Joins.hs:44-249`):
  * output schema = left columns ++ (right columns minus join columns)
  * (`mergeRec`, Joins.hs:29-41), which is exactly Spark's USING-join
  * column merge.
  *
  * Differences from the reference, by design (SURVEY §7.4):
  *   - outer/left/right joins null only the unmatched side (the reference
  *     wraps *every* column in Maybe — Spark's behavior is a lossless
  *     superset);
  *   - physical strategy (broadcast-hash vs shuffled-hash vs sort-merge)
  *     is left to Catalyst/AQE, which is the scale-correct choice; use
  *     [[innerJoinBroadcast]] only to force a small-dimension broadcast.
  *
  * The reference's O(n) discrimination-based grouping (Joins.hs:8-11) needs
  * no analogue: Spark's hash joins are O(n) per partition and distribute.
  */
object Joins {
  /** General USING-join with an explicit join type. */
  def join(keys: Seq[String], joinType: String)(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, keys, joinType)

  def innerJoin(keys: Seq[String])(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, keys, "inner")

  def leftJoin(keys: Seq[String])(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, keys, "left")

  def rightJoin(keys: Seq[String])(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, keys, "right")

  def outerJoin(keys: Seq[String])(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, keys, "full")

  /** Spark-native supersets of the reference's join surface. */
  def semiJoin(keys: Seq[String])(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, keys, "left_semi")

  def antiJoin(keys: Seq[String])(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, keys, "left_anti")

  /** Inner join forcing a broadcast of the (small) right side — for
    * dimension tables below the AQE threshold that statistics miss. */
  def innerJoinBroadcast(keys: Seq[String])(l: DataFrame, dim: DataFrame): DataFrame =
    l.join(broadcast(dim), keys, "inner")

  /** Skew-salted equi-join: when one join key dominates (a hot user, a
    * null-ish default, a viral document), the plain shuffle puts that
    * key's entire population on ONE task. Salting splits it `factor`
    * ways: every left row gets a deterministic salt in [0, factor) —
    * pmod(xxhash64(saltSource), factor), reproducible across retries —
    * and the right side is replicated once per salt value, so the join
    * key becomes (keys..., salt) and the hot key spreads over `factor`
    * tasks. Result identical to the plain join (asserted in JoinsSpec);
    * cost: right side shuffles factor x (use for fact-to-medium joins
    * where the right side is modest but too big to broadcast — for small
    * right sides broadcast instead, and prefer AQE skew handling when
    * its split thresholds fit; salting also covers aggregations AQE
    * cannot re-split, e.g. a skewed groupBy fed by this join's output).
    *
    * `how` may be "inner" or "left" (right/full would need the
    * replicated side deduped back — not supported). */
  def saltedJoin(
      keys: Seq[String],
      saltSource: org.apache.spark.sql.Column,
      factor: Int,
      how: String = "inner")(l: DataFrame, r: DataFrame): DataFrame = {
    require(factor >= 2, "salt factor >= 2")
    require(how == "inner" || how == "left", s"unsupported salted join type: $how")
    val salted = l.withColumn(
      "__salt",
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(saltSource), lit(factor)))
    val replicated = r.withColumn(
      "__salt",
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.sequence(lit(0L), lit(factor - 1L))))
    salted.join(replicated, keys :+ "__salt", how).drop("__salt")
  }

  /** Bloom-pruned equi-join: an explicit runtime filter. Builds a Bloom
    * filter over the (small / pre-filtered) right side's join keys in one
    * aggregation pass ([[graft.functions.expressions.BloomAgg]] — bitwise-
    * OR mergeable state), broadcasts the bytes as a single-row cross
    * join, and filters the big left side BEFORE its join shuffle: rows
    * whose key cannot exist on the right never enter the exchange. No
    * false negatives, so the result is IDENTICAL to the plain join; false
    * positives (rate (1-e^(-kn/m))^k) merely survive until the real join
    * discards them.
    *
    * Spark's `InjectRuntimeFilter` does this automatically only under
    * narrow preconditions (creation-side selective filter, size
    * thresholds); this operator makes the pattern deterministic and
    * composable. Keys are fingerprinted with xxhash64 (any arity/type).
    * The filter is sized from the build side: 16 bits per right-side row
    * (at least 64, rounded up to a power of two), capped at `numBits`
    * (1 MB default), so each task receives a filter proportional to the
    * build side while the fact side's shuffle shrinks by its key
    * selectivity — the canonical semi-join reduction. */
  def bloomPrunedJoin(
      keys: Seq[String],
      numBits: Int = 1 << 23,
      numHashes: Int = 4,
      how: String = "inner")(l: DataFrame, r: DataFrame): DataFrame = {
    import graft.functions.expressions.Bloom
    keys.foreach { k =>
      require(l.schema(k).dataType == r.schema(k).dataType,
        s"bloomPrunedJoin key '$k' differs in type across sides " +
          s"(${l.schema(k).dataType} vs ${r.schema(k).dataType}) — xxhash64 " +
          "fingerprints are type-sensitive; cast the sides to match first")
    }
    val fp = org.apache.spark.sql.functions.xxhash64(keys.map(col): _*)
    // Materialize the filter bytes NOW (one bounded job — numBits/8 bytes
    // to the driver, exactly what Spark's InjectRuntimeFilter's scalar
    // subquery materializes) and embed them as a plan LITERAL. Shipping
    // them as a cross-joined binary COLUMN instead is a trap:
    // UnsafeRow.getBinary copies the whole array per probed row — a 1 MB
    // filter times the fact-side row count of memcpy.
    // The same aggregate counts the build rows; the filter is then
    // folded down to its size (Bloom.fold: equal to one built there).
    val built = r.agg(Bloom.agg(fp, numBits, numHashes), count(lit(1))).head
    val bytes = Bloom.fold(built.getAs[Array[Byte]](0),
      math.min(numBits.toLong, Bloom.bitsFor(built.getLong(1))).toInt)
    l.filter(Bloom.mightContainLit(bytes, fp, numHashes))
      .join(r, keys, how)
  }

  /** Interval (range) join: pairs each point row with every interval row
    * whose `[loCol, hiCol]` contains `ptCol` (inclusive, matching SQL
    * BETWEEN) — with NO equi-key. Spark plans a raw
    * `p.ts BETWEEN i.lo AND i.hi` as a broadcast-nested-loop (O(n*m));
    * this composition bins time into `binSeconds`-wide buckets, explodes
    * each interval over the bins it covers, and equi-joins on the
    * point's single bin — one hash shuffle, candidate set bounded by
    * bin occupancy. Each matching pair meets in exactly one bin (the
    * point's), so no dedup pass is needed. Choose `binSeconds` near the
    * typical interval length: explode factor ~ len/bin + 1, per-bin
    * fan-out ~ points-per-bin x intervals-per-bin. (The same binning
    * trick behind Databricks' range-join hints / interval indexes.) */
  def intervalJoin(
      points: DataFrame,
      ptCol: String,
      intervals: DataFrame,
      loCol: String,
      hiCol: String,
      binSeconds: Long): DataFrame = {
    val pb = points.withColumn(
      "__bin", floorDiv(col(ptCol), binSeconds))
    val ib = intervals.withColumn(
      "__bin",
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.sequence(
          floorDiv(col(loCol), binSeconds), floorDiv(col(hiCol), binSeconds))))
    pb.join(ib, Seq("__bin"))
      .filter(col(ptCol) >= col(loCol) && col(ptCol) <= col(hiCol))
      .drop("__bin")
  }

  private def floorDiv(ts: org.apache.spark.sql.Column, binSeconds: Long) =
    org.apache.spark.sql.functions.floor(ts.cast("long") / binSeconds)

  /** As-of join (left): for each left row, attach `valueCols` from the
    * single most recent right row with `right.tsCol <= left.tsCol` in the
    * same key group; left rows with no prior right row get nulls.
    *
    * Spark has no as-of operator; this is the builder-brief path (a) —
    * compose existing ops: tag both inputs, union, and sweep a
    * `last(_, ignoreNulls)` window PARTITIONED BY the keys (never
    * global), ordered by (ts, side) so a right row at exactly left.ts is
    * visible (`<=` semantics, matching DuckDB/kdb ASOF). One shuffle on
    * the key — identical cost shape to a regular join of the two inputs;
    * at 100 TB the window state per group is O(|valueCols|), streamed.
    *
    * `right` must be unique per (keys, tsCol) — pre-aggregate duplicates
    * (the result would otherwise be tie-ambiguous in ANY engine). Right
    * `valueCols` must not collide with left column names, and null right
    * values are treated as missing (skipped by the sweep). */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCols: Seq[String]): DataFrame =
    asofJoin(left, right, keys, tsCol, valueCols, toleranceSeconds = None)

  /** [[asofJoin]] with a match-staleness bound (pandas `merge_asof`'s
    * `tolerance`): a left row only takes the most recent right row
    * whose timestamp is within `toleranceSeconds`; staler matches yield
    * nulls. Matching is ROW-based (all value columns come from the one
    * matched right row — DuckDB `ASOF JOIN` semantics), carried through
    * the sweep as a single struct. Same single keyed shuffle. */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCols: Seq[String],
      toleranceSeconds: Option[Long]): DataFrame =
    asofJoin(left, right, keys, tsCol, valueCols, toleranceSeconds, "backward")

  /** [[asofJoin]] with a match direction (pandas merge_asof parity):
    * `"backward"` takes the most recent right row at-or-before the left
    * timestamp, `"forward"` the earliest at-or-after, `"nearest"`
    * whichever of the two is closer (equal distance resolves backward).
    * `toleranceSeconds` bounds the matched distance in every direction.
    *
    * All directions share the single keyed union-window plan: one
    * shuffle on `keys`; forward is the same sweep over the reversed
    * sort, nearest evaluates both sweeps over the one exchange (two
    * sorts, still no second shuffle — both windows share the partition
    * keys). */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCols: Seq[String],
      toleranceSeconds: Option[Long],
      direction: String): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")
    val leftCols = left.columns.toSeq
    require(valueCols.intersect(leftCols).isEmpty,
      s"right value columns collide with left: ${valueCols.intersect(leftCols)}")
    val outCols = leftCols ++ valueCols
    val lTagged = valueCols.foldLeft(left.withColumn("__side", lit(1))) {
      (d, c) => d.withColumn(c, lit(null).cast(right.schema(c).dataType))
    }
    val rTagged = leftCols.filterNot(c => keys.contains(c) || c == tsCol)
      .foldLeft(right.withColumn("__side", lit(0))) {
        (d, c) => d.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }
    val unioned = lTagged.select((outCols :+ "__side").map(col): _*)
      .unionByName(rTagged.select((outCols :+ "__side").map(col): _*))
    // carry the matched right row as ONE struct so every value column
    // (and the staleness check) reads the same row
    val rightRow = when(col("__side") === 0,
      struct((tsCol +: valueCols).map(col): _*))
    def sweep(desc: Boolean) = last(rightRow, ignoreNulls = true).over(
      Window
        .partitionBy(keys.map(col): _*)
        .orderBy(if (desc) col(tsCol).desc else col(tsCol).asc, col("__side").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    def dist(m: String) = // microseconds between left ts and match ts, >= 0
      abs(unix_micros(col(tsCol)) - unix_micros(col(s"$m.$tsCol")))
    val withMatch = direction match {
      case "backward" => unioned.withColumn("__m", sweep(desc = false))
      case "forward" => unioned.withColumn("__m", sweep(desc = true))
      case "nearest" =>
        unioned
          .withColumn("__mb", sweep(desc = false))
          .withColumn("__mf", sweep(desc = true))
          .withColumn("__m",
            when(col("__mb").isNull, col("__mf"))
              .when(col("__mf").isNull, col("__mb"))
              .when(dist("__mf") < dist("__mb"), col("__mf"))
              .otherwise(col("__mb")))
          .drop("__mb", "__mf")
    }
    val fresh = toleranceSeconds
      .map(t => col("__m").isNotNull && dist("__m") <= t * 1000000L)
      .getOrElse(col("__m").isNotNull)
    valueCols
      .foldLeft(withMatch.filter(col("__side") === 1))((d, c) =>
        d.withColumn(c, when(fresh, col(s"__m.$c"))))
      .drop("__m", "__side")
  }

  /** Blocked fuzzy self-join (record linkage / dictionary
    * canonicalization): all pairs of distinct `c` values within edit
    * distance `maxDistance`, restricted to pairs sharing at least one
    * blocking key. A naive fuzzy join is all-pairs O(n²); multi-key
    * blocking makes it a union of equi-joins — each block function maps
    * a value to a coarse key (first token, last token, a phonetic code,
    * a length band), candidates are pairs agreeing on ANY key, and only
    * candidates pay the levenshtein. Recall = pairs whose edit
    * happens inside every blocking key are missed (the standard
    * blocking trade-off; add block functions to close gaps).
    *
    * Scale shape: dedupe to the value dictionary FIRST (one keyed
    * shuffle — a 100 TB corpus has a vocabulary-sized dictionary), then
    * equi-join the keyed dictionary with itself on (blockIdx, blockKey).
    * Never all-pairs; per-block fan-out is bounded by the block's
    * cardinality, and the `a < b` predicate halves candidates before
    * the distinct. */
  def fuzzySelfJoin(
      values: DataFrame,
      c: String,
      maxDistance: Int,
      blocks: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column]): DataFrame = {
    require(blocks.nonEmpty, "need at least one blocking function")
    val dict = values.select(col(c).as("a")).distinct()
    val keyed = blocks.zipWithIndex
      .map { case (f, i) =>
        dict.select(col("a"), lit(i).as("__bi"), f(col("a")).as("__bk"))
      }
      .reduce(_ unionByName _)
    keyed
      .join(keyed.withColumnRenamed("a", "b"), Seq("__bi", "__bk"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
      .withColumn("dist", levenshtein(col("a"), col("b")))
      .filter(col("dist") <= maxDistance)
  }
}
