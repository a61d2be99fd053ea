package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Frame
import graft.operators.{Aggregates, Incremental, Joins, Melt}

/** Relational operator coverage (SURVEY §2.1-§2.7): every query runs the
  * library operator and carries a DuckDB oracle. Aggregate doubles are
  * decimal-accumulated (order-independent) and averages rounded, so both
  * engines produce bit-identical values.
  */
object Relational {

  /** exact decimal sum -> double, same text in Spark and DuckDB SQL. */
  private def sumExactSql(c: String, scale: Int = 2) =
    s"cast(sum(cast($c as decimal(28,$scale))) as double)"

  /** decimal-domain money sum -> cents -> double; mirror of
    * [[Aggregates.sumExactCents]]. `round` (half away from zero in DuckDB =
    * Spark's HALF_UP for these positive sums) rather than a decimal cast,
    * because DuckDB's decimal->decimal cast TRUNCATES. */
  private def sumCentsSql(c: String, scale: Int = 6) =
    s"cast(round(sum(cast($c as decimal(18,$scale))), 2) as double)"

  /** Restated in round 15 after the sf1 sweep caught `sum_charge` one ulp
    * apart between engines: the products were computed in double and then
    * cast to decimal, and Spark casts double->decimal via the shortest
    * decimal repr while DuckDB uses the exact binary value, so rows at a
    * 6th-decimal rounding boundary diverge (~2 of 6M rows at sf1; invisible
    * at sf0.1). Both sides now cast the 2-decimal COLUMNS to decimal
    * (unambiguous — the data are exactly 2-decimal) and multiply in the
    * decimal domain, which is exact and associative, then round to cents
    * (see sumExactCents for why cents). */
  val q01_agg_pricing = QueryDef(
    "q01_agg_pricing",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val li = Tables(s, dir).lineitem
        .filter(col("l_shipdate") <= expr("timestamp'2000-01-01 00:00:00'"))
      val ep   = col("l_extendedprice").cast(DecimalType(12, 2))
      val disc = col("l_discount").cast(DecimalType(4, 2))
      val tax  = col("l_tax").cast(DecimalType(4, 2))
      val one  = lit(1.0).cast(DecimalType(3, 2))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Aggregates.sumExact(col("l_quantity")).as("sum_qty"),
          Aggregates.sumExact(col("l_extendedprice")).as("sum_base_price"),
          Aggregates.sumExactCents(ep * (one - disc)).as("sum_disc_price"),
          Aggregates.sumExactCents(ep * (one - disc) * (one + tax)).as("sum_charge"),
          Aggregates.avgExact(col("l_quantity")).as("avg_qty"),
          Aggregates.avgExact(col("l_extendedprice")).as("avg_price"),
          Aggregates.avgExact(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
             ${sumExactSql("l_quantity")} AS sum_qty,
             ${sumExactSql("l_extendedprice")} AS sum_base_price,
             ${sumCentsSql("cast(l_extendedprice as decimal(12,2)) * (1.00 - cast(l_discount as decimal(4,2)))")} AS sum_disc_price,
             ${sumCentsSql("cast(l_extendedprice as decimal(12,2)) * (1.00 - cast(l_discount as decimal(4,2))) * (1.00 + cast(l_tax as decimal(4,2)))")} AS sum_charge,
             round(${sumExactSql("l_quantity")} / count(*), 6) AS avg_qty,
             round(${sumExactSql("l_extendedprice")} / count(*), 6) AS avg_price,
             round(${sumExactSql("l_discount")} / count(*), 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  val q02_filter_project = QueryDef(
    "q02_filter_project",
    (s, dir) => {
      Frame(Tables(s, dir).lineitem)
        .filter(
          col("l_shipdate") >= expr("timestamp'1996-01-01 00:00:00'")
            && col("l_shipdate") < expr("timestamp'1997-01-01 00:00:00'")
            && col("l_discount").between(0.03, 0.08)
            && col("l_quantity") < 30)
        .df
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * col("l_discount")).as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice * l_discount AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.03 AND 0.08
        AND l_quantity < 30
      ORDER BY l_orderkey, l_linenumber"""))

  val q03_join_inner = QueryDef(
    "q03_join_inner",
    (s, dir) => {
      val t = Tables(s, dir)
      val li = t.lineitem.select("l_partkey", "l_orderkey", "l_linenumber", "l_extendedprice")
      val p = t.part
        .select("p_partkey", "p_brand", "p_retailprice")
        .withColumnRenamed("p_partkey", "l_partkey")
      Joins.innerJoin(Seq("l_partkey"))(li, p)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""
      SELECT l.l_partkey, l.l_orderkey, l.l_linenumber, l.l_extendedprice,
             p.p_brand, p.p_retailprice
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      ORDER BY l.l_orderkey, l.l_linenumber"""))

  val q04_join_left = QueryDef(
    "q04_join_left",
    (s, dir) => {
      val t = Tables(s, dir)
      val c = t.customer.select("c_custkey", "c_name")
      val o = t.orders
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumnRenamed("o_custkey", "c_custkey")
      Joins.leftJoin(Seq("c_custkey"))(c, o)
        .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey"))
    },
    Some("""
      SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      ORDER BY c.c_custkey NULLS FIRST, o.o_orderkey NULLS FIRST"""))

  val q05_join_right = QueryDef(
    "q05_join_right",
    (s, dir) => {
      val t = Tables(s, dir)
      val sup = t.supplier
        .select("s_nationkey", "s_suppkey", "s_name")
        .withColumnRenamed("s_nationkey", "n_nationkey")
      val n = t.nation.select("n_nationkey", "n_name")
      Joins.rightJoin(Seq("n_nationkey"))(sup, n)
        .orderBy(asc_nulls_first("n_nationkey"), asc_nulls_first("s_suppkey"))
    },
    Some("""
      SELECT n.n_nationkey, s.s_suppkey, s.s_name, n.n_name
      FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
      ORDER BY n.n_nationkey NULLS FIRST, s.s_suppkey NULLS FIRST"""))

  val q06_join_full = QueryDef(
    "q06_join_full",
    (s, dir) => {
      val t = Tables(s, dir)
      val c = t.customer.select(col("c_nationkey").as("nationkey")).distinct()
        .withColumn("has_customer", lit(1L))
      val sup = t.supplier.select(col("s_nationkey").as("nationkey")).distinct()
        .withColumn("has_supplier", lit(1L))
      Joins.outerJoin(Seq("nationkey"))(c, sup)
        .orderBy(asc_nulls_first("nationkey"))
    },
    Some("""
      SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
             c.has_customer, s.has_supplier
      FROM (SELECT DISTINCT c_nationkey AS nationkey, 1::BIGINT AS has_customer FROM customer) c
      FULL JOIN (SELECT DISTINCT s_nationkey AS nationkey, 1::BIGINT AS has_supplier FROM supplier) s
        ON c.nationkey = s.nationkey
      ORDER BY coalesce(c.nationkey, s.nationkey) NULLS FIRST"""))

  val q07_union = QueryDef(
    "q07_union",
    (s, dir) => {
      val o = Tables(s, dir).orders
      val urgent = Frame(
        o.filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey", "o_orderpriority", "o_totalprice"))
      val low = Frame(
        o.filter(col("o_orderpriority") === "5-LOW")
          .select("o_orderkey", "o_orderpriority", "o_totalprice"))
      urgent.concat(low).df.orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      WHERE o_orderpriority = '5-LOW'
      ORDER BY o_orderkey"""))

  val q08_melt = QueryDef(
    "q08_melt",
    (s, dir) => {
      val li = Tables(s, dir).lineitem
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
      Melt
        .melt(li, idCols = Seq("l_orderkey", "l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("variable"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber, variable, value FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
      ORDER BY l_orderkey, l_linenumber, variable"""))

  val q09_topk = QueryDef(
    "q09_topk",
    (s, dir) =>
      Tables(s, dir).orders
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""))

  val q10_argmax = QueryDef(
    "q10_argmax",
    (s, dir) =>
      Aggregates
        .argmax(
          Tables(s, dir).orders.select("o_custkey", "o_orderkey", "o_totalprice"),
          groupCols = Seq("o_custkey"),
          ord = col("o_totalprice"),
          tiebreak = col("o_orderkey"))
        .orderBy(col("o_custkey")),
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders) WHERE rn = 1
      ORDER BY o_custkey"""))

  val q11_distinct = QueryDef(
    "q11_distinct",
    (s, dir) =>
      Tables(s, dir).lineitem
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus"""))

  val q12_window_running = QueryDef(
    "q12_window_running",
    (s, dir) => {
      // fan = false: the o_orderkey fan-out exchange buys nothing for a
      // custkey-partitioned window + global range sort (round 16)
      val o = Tables(s, dir).orders(fan = false)
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      o.select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        row_number().over(w).as("order_seq"),
        sum(col("o_totalprice").cast("decimal(28,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double")
          .as("running_total"))
        .orderBy(col("o_custkey"), col("order_seq"))
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER w AS order_seq,
             cast(sum(cast(o_totalprice as decimal(28,2))) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double)
               AS running_total
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, order_seq"""))

  val q13_rollup = QueryDef(
    "q13_rollup",
    (s, dir) =>
      Tables(s, dir).lineitem
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          Aggregates.sumExact(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
    Some(s"""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             ${sumExactSql("l_quantity")} AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  val q14_na_fill = QueryDef(
    "q14_na_fill",
    (s, dir) => {
      val t = Tables(s, dir)
      val perCust = t.orders
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(
          count(lit(1)).as("n_orders"),
          Aggregates.sumExact(col("o_totalprice")).as("total_spend"))
      Frame(
        Joins.leftJoin(Seq("c_custkey"))(
          t.customer.select("c_custkey", "c_name"), perCust))
        .fillNa(Map("n_orders" -> 0L, "total_spend" -> 0.0))
        .df
        .orderBy(col("c_custkey"))
    },
    Some(s"""
      SELECT c.c_custkey, c.c_name,
             coalesce(o.n_orders, 0) AS n_orders,
             coalesce(o.total_spend, 0.0) AS total_spend
      FROM customer c LEFT JOIN (
        SELECT o_custkey, count(*) AS n_orders,
               ${sumExactSql("o_totalprice")} AS total_spend
        FROM orders GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
      ORDER BY c.c_custkey"""))

  val q15_semi_join = QueryDef(
    "q15_semi_join",
    (s, dir) => {
      val t = Tables(s, dir)
      val urgent = t.orders
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      Joins.semiJoin(Seq("c_custkey"))(
        t.customer.select("c_custkey", "c_name"), urgent)
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
      ORDER BY c_custkey"""))

  val q16_anti_join = QueryDef(
    "q16_anti_join",
    (s, dir) => {
      val t = Tables(s, dir)
      val urgent = t.orders
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      Joins.antiJoin(Seq("c_custkey"))(
        t.customer.select("c_custkey", "c_name"), urgent)
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      ORDER BY c_custkey"""))

  val q17_join5_revenue = QueryDef(
    "q17_join5_revenue",
    (s, dir) => {
      val t = Tables(s, dir)
      // TPC-H Q5 shape: revenue per nation for one region & order-date year.
      // customer/supplier/nation/region are dims — Catalyst/AQE broadcasts
      // them; lineitem|x|orders is the only large shuffle.
      val r = t.region.filter(col("r_name") === "ASIA")
      val n = t.nation.withColumnRenamed("n_regionkey", "r_regionkey")
      val c = t.customer
        .withColumnRenamed("c_nationkey", "n_nationkey")
        .select("c_custkey", "n_nationkey")
      val o = t.orders
        .filter(
          col("o_orderdate") >= expr("timestamp'1996-01-01 00:00:00'")
            && col("o_orderdate") < expr("timestamp'1998-01-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"))
      val li = t.lineitem
        .select(
          col("l_orderkey").as("o_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val sup = t.supplier
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey").as("n_nationkey"))
      val dims = Joins.innerJoin(Seq("r_regionkey"))(n, r) // nation in region
      val custDim = Joins.innerJoin(Seq("n_nationkey"))(c, dims)
      val ordersF = Joins.innerJoin(Seq("c_custkey"))(o, custDim)
      val liJoined = Joins.innerJoin(Seq("o_orderkey"))(li, ordersF)
      // supplier nation must match customer nation (Q5 semantics)
      val matched = Joins.innerJoin(Seq("l_suppkey", "n_nationkey"))(liJoined, sup)
      matched
        .groupBy(col("n_name"))
        .agg(
          Aggregates
            .sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"))
        .orderBy(col("n_name"))
    },
    Some(s"""
      SELECT n_name,
             ${sumExactSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY n_name"""))

  val q18_pivot = QueryDef(
    "q18_pivot",
    (s, dir) => {
      val li = Tables(s, dir).lineitem
        .select("l_returnflag", "l_linestatus", "l_quantity")
      Melt
        .pivot(
          li, Seq("l_returnflag"), "l_linestatus", "l_quantity",
          pivotValues = Seq("F", "O"), agg = c => count(c))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             count(*) FILTER (WHERE l_linestatus = 'F') AS F,
             count(*) FILTER (WHERE l_linestatus = 'O') AS O
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  val q19_zip = QueryDef(
    "q19_zip",
    (s, dir) => {
      val t = Tables(s, dir)
      Frame(t.part.select("p_partkey", "p_name"))
        .zip(
          Seq(col("p_partkey")),
          Frame(t.supplier.select("s_suppkey", "s_name")),
          Seq(col("s_suppkey")))
        .df
        .orderBy(col("p_partkey"))
    },
    Some("""
      SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name
      FROM (SELECT p_partkey, p_name,
                   row_number() OVER (ORDER BY p_partkey) AS rn FROM part) p
      JOIN (SELECT s_suppkey, s_name,
                   row_number() OVER (ORDER BY s_suppkey) AS rn FROM supplier) s
        ON p.rn = s.rn
      ORDER BY p.p_partkey"""))

  val q20_take_drop = QueryDef(
    "q20_take_drop",
    (s, dir) =>
      Frame(
        Tables(s, dir).lineitem
          .select("l_orderkey", "l_linenumber", "l_quantity"))
        .dropRows(100, Seq(col("l_orderkey"), col("l_linenumber")))
        .df
        .limit(50),
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      ORDER BY l_orderkey, l_linenumber LIMIT 50 OFFSET 100"""))

  val q21_chunks = QueryDef(
    "q21_chunks",
    (s, dir) =>
      Frame(
        Tables(s, dir).lineitem
          .select("l_orderkey", "l_linenumber", "l_quantity"))
        .chunkIds(1000, Seq(col("l_orderkey"), col("l_linenumber")))
        .df
        .groupBy(col("chunk"))
        .agg(
          count(lit(1)).as("n"),
          Aggregates.sumExact(col("l_quantity")).as("sum_qty"))
        .orderBy(col("chunk")),
    Some(s"""
      SELECT cast(floor((rn - 1) / 1000) as bigint) AS chunk, count(*) AS n,
             ${sumExactSql("l_quantity")} AS sum_qty
      FROM (SELECT l_quantity,
                   row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
            FROM lineitem)
      GROUP BY 1 ORDER BY 1"""))

  val q22_stats_multi = QueryDef(
    "q22_stats_multi",
    (s, dir) =>
      Aggregates.describe(
        Tables(s, dir).lineitem,
        Seq("l_quantity", "l_extendedprice", "l_discount")),
    Some(s"""
      SELECT round(${sumExactSql("l_quantity")} / count(*), 6) AS avg_l_quantity,
             min(l_quantity) AS min_l_quantity, max(l_quantity) AS max_l_quantity,
             round(${sumExactSql("l_extendedprice")} / count(*), 6) AS avg_l_extendedprice,
             min(l_extendedprice) AS min_l_extendedprice, max(l_extendedprice) AS max_l_extendedprice,
             round(${sumExactSql("l_discount")} / count(*), 6) AS avg_l_discount,
             min(l_discount) AS min_l_discount, max(l_discount) AS max_l_discount,
             count(*) AS n_rows
      FROM lineitem"""))

  val q23_events_window = QueryDef(
    "q23_events_window",
    (s, dir) =>
      Tables(s, dir).events(fan = false) // keyed by (hour, type), not user
        .groupBy(
          window(col("ts"), "1 hour").getField("start").as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          Aggregates.sumExact(col("value")).as("sum_value"))
        .orderBy(col("hour"), col("event_type")),
    Some(s"""
      SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
             ${sumExactSql("value")} AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  val q24_json_extract = QueryDef(
    "q24_json_extract",
    (s, dir) =>
      Tables(s, dir).events
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy(col("event_type")),
    Some("""
      -- outer CAST: DuckDB sum(BIGINT) returns HUGEINT, which lands in the
      -- driver's pandas compare as float64 ("99111.0" vs Spark's "99111")
      SELECT event_type, cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint) AS sum_k,
             count(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type"""))

  val q25_cube = QueryDef(
    "q25_cube",
    (s, dir) =>
      Tables(s, dir).orders
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
    Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""))

  val q26_intersect = QueryDef(
    "q26_intersect",
    (s, dir) => {
      val t = Tables(s, dir)
      t.customer.select(col("c_nationkey").as("nationkey"))
        .intersect(t.supplier.select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))
    },
    Some("""
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier
      ORDER BY nationkey"""))

  val q27_except = QueryDef(
    "q27_except",
    (s, dir) => {
      val t = Tables(s, dir)
      t.customer.select(col("c_nationkey").as("nationkey"))
        .except(t.supplier.select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))
    },
    Some("""
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT s_nationkey FROM supplier
      ORDER BY nationkey"""))

  /** Frame Monad `>>=` / concatMap (Frames `src/Frames/Frame.hs:58-62`):
    * lateral explode of the embedding array — a `Generate` node, no
    * shuffle, whole-stage codegen'd. */
  val q34_explode = QueryDef(
    "q34_explode",
    (s, dir) =>
      Frame(Tables(s, dir).embeddings.filter(col("vec_id") < 50))
        .concatMapWithPosition(col("embedding"), "pos", "__v")
        .df
        .select(
          col("vec_id"),
          col("pos"),
          round(col("__v").cast("double"), 6).as("val"))
        .orderBy(col("vec_id"), col("pos")),
    Some("""
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             round(CAST(unnest(embedding) AS DOUBLE), 6) AS val
      FROM embeddings WHERE vec_id < 50 ORDER BY vec_id, pos"""))

  /** `rdel` + `mapMono` through the facade (Frames
    * `src/Frames/RecF.hs:99-124`): project, delete columns, apply one
    * expression to a homogeneous column selection. All narrow — the plan
    * is a single scan+project, filters/pruning reach parquet. */
  val q35_rdel_mapmono = QueryDef(
    "q35_rdel_mapmono",
    (s, dir) =>
      Frame(Tables(s, dir).lineitem)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag")
        .drop("l_returnflag")
        .mapMono(
          Seq("l_quantity", "l_extendedprice"),
          c => round(c * lit(2), 2))
        .df
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""
      SELECT l_orderkey, l_linenumber,
             round(l_quantity * 2, 2) AS l_quantity,
             round(l_extendedprice * 2, 2) AS l_extendedprice
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  /** Gap-based sessionization via the unified batch/streaming plan
    * (`graft.streaming.EventStreams.sessionWindowAgg` — the same code
    * runs under Structured Streaming with watermarked state; batch here
    * so DuckDB can oracle it with gaps-and-islands SQL). Spark merges
    * events with inter-arrival < gap, session end = last event + gap. */
  val q36_session_window = QueryDef(
    "q36_session_window",
    (s, dir) =>
      graft.streaming.EventStreams
        .sessionWindowAgg(
          Tables(s, dir).events, gap = "6 hours",
          totalValue = c => Aggregates.sumExact(c, 6))
        .orderBy(col("user_id"), col("session_start")),
    Some("""
      WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sess AS (
        SELECT user_id, ts, value,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
      SELECT min(ts) AS session_start, max(ts) + INTERVAL 6 HOUR AS session_end,
             user_id, count(*) AS n_events,
             cast(sum(cast(value as decimal(28,6))) as double) AS total_value
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, session_start"""))

  /** Custom typed fold (the reference's Control.Foldl extension point,
    * SURVEY §2.9) driven through the Dataset API: per-group count +
    * geometric mean via `graft.operators.Folds`. Partial aggregation of
    * accumulator structs map-side, one keyed shuffle. */
  val q37_fold_typed = QueryDef(
    "q37_fold_typed",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Folds
      Tables(s, dir).lineitem
        .select(col("l_returnflag"), col("l_extendedprice"))
        .as[(String, Double)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(Folds.countAndSum.name("cs"), Folds.geometricMean.name("gm"))
        .toDF("l_returnflag", "cs", "gm")
        .select(
          col("l_returnflag"),
          col("cs._1").as("n"),
          round(col("gm"), 6).as("geomean"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag, count(l_extendedprice) AS n,
             round(exp(avg(ln(l_extendedprice))), 6) AS geomean
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** As-of join (operator Spark lacks; composed per brief path (a)):
    * each click event joined to the user's most recent purchase at or
    * before it. DuckDB's native ASOF JOIN is the oracle. */
  val q38_asof_join = QueryDef(
    "q38_asof_join",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
      Joins
        .asofJoin(clicks, purchases, Seq("user_id"), "ts", Seq("purchase_value"))
        .select(
          col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 6).as("value"),
          round(col("purchase_value"), 6).as("purchase_value"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH clicks AS (
        SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts, max(value) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT c.event_id, c.user_id, c.ts,
             round(c.value, 6) AS value,
             round(p.purchase_value, 6) AS purchase_value
      FROM clicks c ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND c.ts >= p.ts
      ORDER BY c.event_id"""))

  /** Keyless range join via bin-explode equi-join (Joins.intervalJoin):
    * events matched to 30 daily maintenance windows. A raw BETWEEN join
    * would plan broadcast-nested-loop; this shape is one hash shuffle. */
  val q40_interval_join = QueryDef(
    "q40_interval_join",
    (s, dir) => {
      val intervals = s.range(0, 30).select(
        col("id").as("window_id"),
        expr("timestampadd(DAY, cast(id as int), timestamp'2024-01-01 02:00:00')").as("lo"),
        expr("timestampadd(DAY, cast(id as int), timestamp'2024-01-01 05:59:59')").as("hi"))
      Joins
        .intervalJoin(
          Tables(s, dir).events.select(col("event_id"), col("ts"), col("value")),
          "ts", intervals, "lo", "hi", binSeconds = 4 * 3600)
        .groupBy(col("window_id"))
        .agg(
          count(lit(1)).as("n"),
          Aggregates.sumExact(col("value"), 6).as("total_value"))
        .orderBy(col("window_id"))
    },
    Some("""
      WITH w AS (
        SELECT d AS window_id,
               TIMESTAMP '2024-01-01 02:00:00' + d * INTERVAL 1 DAY AS lo,
               TIMESTAMP '2024-01-01 05:59:59' + d * INTERVAL 1 DAY AS hi
        FROM generate_series(0, 29) t(d))
      SELECT w.window_id, count(*) AS n,
             cast(sum(cast(e.value as decimal(28,6))) as double) AS total_value
      FROM events e JOIN w ON e.ts BETWEEN w.lo AND w.hi
      GROUP BY w.window_id ORDER BY w.window_id"""))

  /** Exact interpolated percentiles (Spark `percentile` == DuckDB
    * `quantile_cont` — both the linear-interpolation definition). */
  val q41_percentiles = QueryDef(
    "q41_percentiles",
    (s, dir) =>
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
             round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
             round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Window-function breadth: lag/lead/rank/dense_rank/ntile over a
    * keyed partition (never a global window). */
  val q42_window_suite = QueryDef(
    "q42_window_suite",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables(s, dir).orders
        .filter(col("o_custkey") < 100)
        .select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             lag(o_totalprice, 1) OVER w AS prev_price,
             lead(o_totalprice, 1) OVER w AS next_price,
             rank() OVER w AS rnk,
             dense_rank() OVER w AS drnk,
             ntile(4) OVER w AS quartile
      FROM orders WHERE o_custkey < 100
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey"""))

  /** Event-time RANGE frame — the trailing-window feature every
    * feature-engineering pipeline computes ("this user's activity in
    * the last hour AS OF each event"). Distinct semantics from q42's
    * ROWS frames: the frame is bounded by VALUE distance on the order
    * key, so gaps and bursts change the row count per frame. Keyed by
    * user (one shuffle, no global window); frame bounds in exact
    * microseconds (`unix_micros` / `epoch_us`) so both engines cut
    * identical frames, and the windowed sum decimal-accumulates to stay
    * order-independent. */
  val q67_range_window = QueryDef(
    "q67_range_window",
    (s, dir) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-(3600L * 1000000L - 1L), 0L)
      Tables(s, dir).events
        .filter(col("user_id") < 100)
        .select(
          col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .over(w).cast("double").as("sum_1h"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id,
             count(*) OVER w AS n_1h,
             cast(sum(cast(value as decimal(18,2))) OVER w as double) AS sum_1h
      FROM events WHERE user_id < 100
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""))

  /** Deterministic stratified sampling — per-group quota by a pseudo-
    * random but engine-portable permutation (Knuth multiplicative hash of
    * the id), the per-language corpus-balancing pattern. Partitioned
    * window + filter: one keyed shuffle, exact quotas, reproducible on
    * any cluster. */
  val q43_stratified_sample = QueryDef(
    "q43_stratified_sample",
    (s, dir) => {
      val shuffleKey = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
      val w = Window.partitionBy(col("lang")).orderBy(shuffleKey, col("doc_id"))
      Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), shuffleKey.as("shuffle_key"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 25)
        .select(col("lang"), col("doc_id"), col("rn"))
        .orderBy(col("lang"), col("rn"))
    },
    Some("""
      SELECT lang, doc_id, rn FROM (
        SELECT lang, doc_id,
               row_number() OVER (
                 PARTITION BY lang
                 ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
        FROM documents)
      WHERE rn <= 25 ORDER BY lang, rn"""))

  /** Multiple COUNT(DISTINCT) in one aggregation — Catalyst's Expand
    * rewrite (one shuffle carrying the expanded rows, partial aggs per
    * distinct column). */
  val q44_count_distinct = QueryDef(
    "q44_count_distinct",
    (s, dir) =>
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps,
             count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** The SQL entry path: the same engine through `spark.sql` over a temp
    * view (TPC-H Q6 shape — filters reach the parquet scan through the
    * view exactly as through the DataFrame API). */
  val q45_sql_revenue = QueryDef(
    "q45_sql_revenue",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_v")
      s.sql(s"""
        SELECT cast(sum(cast(l_extendedprice * l_discount as decimal(28,6))) as double) AS revenue,
               count(*) AS n
        FROM lineitem_v
        WHERE l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")
    },
    Some("""
      SELECT cast(sum(cast(l_extendedprice * l_discount as decimal(28,6))) as double) AS revenue,
             count(*) AS n
      FROM lineitem
      WHERE l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24"""))

  /** GROUPING SETS through the SQL entry path (the DataFrame facade gets
    * rollup/cube; arbitrary set lists are a SQL-surface feature).
    * grouping_id disambiguates real NULL keys from subtotal rows. */
  val q46_grouping_sets = QueryDef(
    "q46_grouping_sets",
    (s, dir) => {
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_gs")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) + 2 * grouping(l_linestatus) AS gid,
               cast(sum(cast(l_quantity as decimal(28,2))) as double) AS sum_qty,
               count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY gid, l_returnflag, l_linestatus""")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             grouping(l_returnflag) + 2 * grouping(l_linestatus) AS gid,
             cast(sum(cast(l_quantity as decimal(28,2))) as double) AS sum_qty,
             count(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY gid, l_returnflag, l_linestatus"""))

  /** String-function suite over supplier names — the §2.8 scalar surface
    * the reference leaves to host-language lambdas, exercised through
    * codegen'd built-ins only (every one cross-engine exact). */
  val q47_string_funcs = QueryDef(
    "q47_string_funcs",
    (s, dir) =>
      Tables(s, dir).supplier
        .select(
          col("s_suppkey"),
          upper(col("s_name")).as("up"),
          reverse(col("s_name")).as("rev"),
          length(col("s_name")).as("len"),
          substring(col("s_name"), 3, 5).as("sub"),
          lpad(col("s_name"), 22, ".").as("padded"),
          translate(col("s_name"), "#", "-").as("tr"),
          instr(col("s_name"), "Supplier").as("pos"),
          levenshtein(col("s_name"), lit("Supplier#000000001")).as("edit_dist"))
        .orderBy(col("s_suppkey")),
    Some("""
      SELECT s_suppkey,
             upper(s_name) AS up,
             reverse(s_name) AS rev,
             length(s_name) AS len,
             substring(s_name, 3, 5) AS sub,
             lpad(s_name, 22, '.') AS padded,
             replace(s_name, '#', '-') AS tr,
             strpos(s_name, 'Supplier') AS pos,
             levenshtein(s_name, 'Supplier#000000001') AS edit_dist
      FROM supplier ORDER BY s_suppkey"""))

  /** Deterministic list aggregation: collect_list is unordered by
    * contract, so sort_array pins the result before the string join —
    * the portable way to oracle any array-valued aggregate. */
  val q48_array_agg = QueryDef(
    "q48_array_agg",
    (s, dir) =>
      Tables(s, dir).nation
        .groupBy(col("n_regionkey"))
        .agg(
          concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"),
          count(lit(1)).as("n"))
        .orderBy(col("n_regionkey")),
    Some("""
      SELECT n_regionkey,
             array_to_string(list_sort(list(n_name)), ',') AS nations,
             count(*) AS n
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  /** Correlated subqueries through the SQL path: EXISTS (semi), NOT
    * EXISTS (anti) and a scalar subquery in one statement — Catalyst
    * rewrites all three to joins (no per-row re-execution). */
  val q49_subqueries = QueryDef(
    "q49_subqueries",
    (s, dir) => {
      Tables(s, dir).customer.createOrReplaceTempView("customer_sq")
      Tables(s, dir).orders.createOrReplaceTempView("orders_sq")
      s.sql("""
        SELECT c_custkey, c_nationkey,
               (SELECT count(*) FROM orders_sq o WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM customer_sq c
        WHERE EXISTS (SELECT 1 FROM orders_sq o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM orders_sq o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
                            AND o.o_totalprice < 1000)
        ORDER BY c_custkey""")
    },
    Some("""
      SELECT c_custkey, c_nationkey,
             (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
                          AND o.o_totalprice < 1000)
      ORDER BY c_custkey"""))

  /** Date/time function suite over event timestamps — the §2.8 temporal
    * surface (the reference's TimeIn demo territory), cross-engine-stable
    * functions only. */
  val q50_date_funcs = QueryDef(
    "q50_date_funcs",
    (s, dir) =>
      Tables(s, dir).events
        .select(
          col("event_id"),
          date_trunc("day", col("ts")).as("day"),
          year(col("ts")).as("y"),
          month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("d"),
          hour(col("ts")).as("h"),
          minute(col("ts")).as("mi"),
          dayofweek(col("ts")).as("dow"),
          // render as string: DATE-typed outputs are untested through the
          // driver's pandas compare (every proven query emits timestamps,
          // numbers or strings) — don't gamble on date stringification
          date_format(last_day(col("ts")), "yyyy-MM-dd").as("month_end"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("days_since"))
        .orderBy(col("event_id")),
    Some("""
      SELECT event_id,
             date_trunc('day', ts) AS day,
             year(ts) AS y,
             month(ts) AS m,
             day(ts) AS d,
             hour(ts) AS h,
             minute(ts) AS mi,
             dayofweek(ts) + 1 AS dow,
             strftime(last_day(ts), '%Y-%m-%d') AS month_end,
             datediff('day', DATE '2024-01-01', ts::DATE) AS days_since
      FROM events ORDER BY event_id"""))

  /** Exact oracle for the custom HLL aggregate: DuckDB replays the same
    * public algorithm — XXH64 values ([[OracleSql]]), register maxima,
    * integer harmonic numerator (order-free), one multiply + divide, the
    * same banker's-rounding at 6 dp. The CASE chain is the exact integer
    * bit-length of the 56-bit suffix (no float log2 at bucket
    * boundaries). */
  private val q51Oracle: String = {
    import graft.functions.expressions.HllDistinct
    import graft.functions.expressions.HllDistinct.{AlphaMM, M, RhoCap}
    val pw = (0 to RhoCap).map(k => (BigInt(1) << k).toString)
      .mkString("[", ",", "]::HUGEINT[]")
    val rhoCase = ((64 - HllDistinct.P - 1) to 0 by -1)
      .map(k => s"WHEN w >= ${(BigInt(1) << k).toString} THEN ${64 - HllDistinct.P - k}")
      .mkString("CASE ", " ", s" ELSE $RhoCap END")
    val pow2Cap = s"${(BigInt(1) << RhoCap).toString}"
    s"""
      WITH h AS (
        SELECT DISTINCT event_type, user_id FROM events WHERE user_id IS NOT NULL),
      hh AS (
        SELECT event_type, ${OracleSql.xxh64Long(OracleSql.s2u("user_id"))} AS hu FROM h),
      rr0 AS (
        SELECT event_type, (hu % $M)::INT AS idx, (hu // $M) AS w FROM hh),
      rr AS (
        SELECT event_type, idx, $rhoCase AS rho FROM rr0),
      regs AS (
        SELECT event_type, idx, max(rho) AS reg FROM rr GROUP BY 1, 2),
      est AS (
        SELECT event_type,
               (sum(($pw)[${RhoCap + 1} - reg]) + ($M - count(*)) * $pow2Cap::HUGEINT) AS num,
               ($M - count(*)) AS zeros
        FROM regs GROUP BY event_type),
      fin AS (
        SELECT event_type, $AlphaMM * $pow2Cap.0 / num::DOUBLE AS raw, zeros FROM est)
      SELECT f.event_type,
             round_even((CASE WHEN raw <= ${2.5 * M} AND zeros > 0
               THEN $M * ln($M.0 / zeros) ELSE raw END) * 1000000.0, 0) / 1000000.0
               AS approx_users,
             x.exact_users
      FROM fin f JOIN (SELECT event_type, count(DISTINCT user_id) AS exact_users
                       FROM events GROUP BY 1) x USING (event_type)
      ORDER BY event_type"""
  }

  /** Custom mergeable sketch aggregate (TypedImperativeAggregate):
    * approximate distinct users per event type next to the exact count —
    * 256 bytes of state per group vs a full value shuffle. */
  val q51_hll_distinct = QueryDef(
    "q51_hll_distinct",
    (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(
          graft.functions.expressions.HllDistinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .orderBy(col("event_type")),
    Some(q51Oracle))

  /** Ordered-sequence funnel over the event stream: per user, the first
    * view, the first click strictly after that view, the first purchase
    * strictly after that click — then one summary row with stage
    * conversion counts and the exact total view->purchase lag (summed in
    * microseconds: integer-exact across any partitioning). Three keyed
    * aggregations on user_id, no windows, no sort of the raw events. */
  val q52_funnel = QueryDef(
    "q52_funnel",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id"), col("t_view")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy(col("user_id"), col("t_view"), col("t_click"))
        .agg(min(col("ts")).as("t_purchase"))
      v.agg(count(lit(1)).as("n_view")).crossJoin(
          c.agg(count(lit(1)).as("n_click_after_view")))
        .crossJoin(
          p.agg(
            count(lit(1)).as("n_purchase_after_click"),
            sum(unix_micros(col("t_purchase")) - unix_micros(col("t_view")))
              .as("sum_view_to_purchase_us")))
    },
    Some("""
      WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (
        SELECT e.user_id, v.t_view, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id, v.t_view),
      p AS (
        SELECT e.user_id, c.t_view, c.t_click, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id, c.t_view, c.t_click)
      SELECT (SELECT cast(count(*) as bigint) FROM v) AS n_view,
             (SELECT cast(count(*) as bigint) FROM c) AS n_click_after_view,
             (SELECT cast(count(*) as bigint) FROM p) AS n_purchase_after_click,
             (SELECT cast(sum(epoch_us(t_purchase) - epoch_us(t_view)) as bigint) FROM p)
               AS sum_view_to_purchase_us"""))

  /** Skew-salted fact-to-fact join (the brief's "salting for skew" path):
    * lineitem joins orders on a salted (o_orderkey, salt) key — every
    * left row salted by a deterministic per-row hash, the right side
    * replicated across the salt space — so a hot orderkey would spread
    * over `factor` tasks instead of one. Result provably identical to
    * the plain join: the oracle IS the plain join in SQL. */
  val q53_salted_join = QueryDef(
    "q53_salted_join",
    (s, dir) => {
      val t = Tables(s, dir)
      graft.operators.Joins
        .saltedJoin(
          keys = Seq("o_orderkey"),
          saltSource = struct(col("o_orderkey"), col("l_linenumber")),
          factor = 8)(
          t.lineitem.select(
            col("l_orderkey").as("o_orderkey"),
            col("l_linenumber"), col("l_quantity")),
          t.orders.select(col("o_orderkey"), col("o_orderpriority")))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_lines"),
          Aggregates.sumExact(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""
      SELECT o.o_orderpriority, count(*) AS n_lines,
             ${sumExactSql("l.l_quantity")} AS sum_qty
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"""))

  /** Exact oracle for the Count-Min sketch: DuckDB replays the sketch —
    * per distinct key, the XXH64(seed 42+r) bucket in each of the D rows
    * ([[OracleSql.xxh64Long]]); per (row, bucket), the counter is the sum
    * of the exact counts of every key hashing there; the estimate is the
    * min over rows. Pure integer arithmetic — no float, no order. */
  private val q54Oracle: String = {
    import graft.functions.expressions.CountMin.{D, W}
    s"""
      WITH v AS (
        SELECT l_suppkey::BIGINT AS k, count(*)::BIGINT AS exact_cnt
        FROM lineitem GROUP BY 1),
      b AS (
        SELECT r.range AS r, v.k, v.exact_cnt,
               (${OracleSql.xxh64Long(OracleSql.s2u("v.k"), "42 + r.range")} % $W) AS bucket
        FROM v CROSS JOIN range($D) r),
      bs AS (
        SELECT r, bucket, sum(exact_cnt)::BIGINT AS c FROM b GROUP BY 1, 2),
      est AS (
        SELECT b.k, min(bs.c) AS est_cnt
        FROM b JOIN bs USING (r, bucket) GROUP BY b.k)
      SELECT v.k AS suppkey, est.est_cnt, v.exact_cnt
      FROM v JOIN est ON v.k = est.k
      ORDER BY est_cnt DESC, suppkey LIMIT 25"""
  }

  /** Heavy-hitters via a Count-Min sketch (custom mergeable
    * TypedImperativeAggregate): ONE pass builds a 16 KB sketch, which is
    * broadcast to probe candidate keys — at 100 TB the raw values are
    * never shuffled; only D*W counters merge. The exact per-key count
    * rides alongside to exhibit the one-sided error (est >= exact). */
  val q54_cms_topk = QueryDef(
    "q54_cms_topk",
    (s, dir) => {
      import graft.functions.expressions.CountMin
      val keys = Tables(s, dir).lineitem
        .select(col("l_suppkey").cast("long").as("k"))
      val sketch = keys.agg(CountMin.sketch(col("k")).as("sk"))
      keys.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
        .crossJoin(broadcast(sketch))
        .select(
          col("k").as("suppkey"),
          CountMin.estimate(col("sk"), col("k")).as("est_cnt"),
          col("exact_cnt"))
        .orderBy(col("est_cnt").desc, col("suppkey"))
        .limit(25)
    },
    Some(q54Oracle))

  /** Bloom-pruned fact-to-dim join (explicit runtime filter): the
    * filtered orders slice (~1% of orders) builds a Bloom filter whose
    * bytes broadcast to prefilter lineitem BEFORE the join shuffle — no
    * false negatives, so the oracle is the PLAIN join SQL. */
  val q55_bloom_join = QueryDef(
    "q55_bloom_join",
    (s, dir) => {
      val t = Tables(s, dir)
      val dim = t.orders
        .filter(
          col("o_orderdate") >= expr("timestamp'1995-03-01 00:00:00'")
            && col("o_orderdate") < expr("timestamp'1995-04-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_orderpriority"))
      val fact = t.lineitem.select(
        col("l_orderkey").as("o_orderkey"),
        col("l_extendedprice"), col("l_discount"))
      Joins.bloomPrunedJoin(Seq("o_orderkey"))(fact, dim)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_lines"),
          Aggregates
            .sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""
      SELECT o.o_orderpriority, count(*) AS n_lines,
             ${sumExactSql("l.l_extendedprice * (1.0 - l.l_discount)", 6)} AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
      GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"""))

  /** Exact oracle for the Z-order layout key: DuckDB recomputes the
    * linear min/max bin (pure integer `//`) and the 12-bit interleave as
    * a sum of shifted bit terms — bit i of column j at position i*2+j. */
  private val q56Oracle: String = {
    val bits = 12
    val maxBin = (1L << bits) - 1
    def term(src: String, i: Int, j: Int) =
      s"(($src // ${1L << i}) % 2) * ${BigInt(1) << (i * 2 + j)}"
    val interleave = (0 until bits)
      .flatMap(i => Seq(term("xb", i, 0), term("yb", i, 1)))
      .mkString(" + ")
    s"""
      WITH s AS (
        SELECT min(l_partkey)::BIGINT AS lo0, max(l_partkey)::BIGINT AS hi0,
               min(l_suppkey)::BIGINT AS lo1, max(l_suppkey)::BIGINT AS hi1
        FROM lineitem),
      b AS (
        SELECT l_partkey, l_suppkey,
               CASE WHEN hi0 = lo0 THEN 0
                    ELSE ((l_partkey::BIGINT - lo0) * $maxBin) // (hi0 - lo0) END AS xb,
               CASE WHEN hi1 = lo1 THEN 0
                    ELSE ((l_suppkey::BIGINT - lo1) * $maxBin) // (hi1 - lo1) END AS yb
        FROM lineitem CROSS JOIN s)
      SELECT l_partkey, l_suppkey, ($interleave)::BIGINT AS z, count(*)::BIGINT AS n
      FROM b GROUP BY 1, 2, 3
      ORDER BY z, l_partkey, l_suppkey LIMIT 200"""
  }

  /** Z-order clustering key ([[graft.operators.Layout.withZValue]]):
    * min/max-binned bit interleave of (l_partkey, l_suppkey) — the value
    * a zorderLayout write range-partitions on so every file gets a tight
    * bounding box in BOTH dimensions (multi-column data skipping).
    * Stats come from one broadcast aggregate; no driver collect. */
  val q56_zorder_key = QueryDef(
    "q56_zorder_key",
    (s, dir) => {
      val li = Tables(s, dir).lineitem.select(col("l_partkey"), col("l_suppkey"))
      graft.operators.Layout.withZValue(li, Seq("l_partkey", "l_suppkey"), 12, "z")
        .groupBy(col("l_partkey"), col("l_suppkey"), col("z"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("z"), col("l_partkey"), col("l_suppkey"))
        .limit(200)
    },
    Some(q56Oracle))

  /** CDC merge ([[Incremental.mergeLatest]]), exercised INCREMENTALLY:
    * the events log is split at a watermark; the pre-split history folds
    * to a base snapshot, the post-split delta is merged on top, and the
    * result must equal (and the oracle IS) the latest-wins fold of the
    * full log. `event_type = 'error'` plays the delete op. One keyed
    * shuffle per fold; the rn=1 filter plans as WindowGroupLimit, so
    * each task forwards at most one row per key before the exchange. */
  val q57_merge_upsert = QueryDef(
    "q57_merge_upsert",
    (s, dir) => {
      val ev = Tables(s, dir).events(fan = false) // post-union window
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
      def snap(changes: org.apache.spark.sql.DataFrame) =
        Incremental.mergeLatest(
          changes,
          keys = Seq("user_id"),
          seqCols = Seq(col("ts"), col("event_id")),
          isDelete = col("event_type") === "error")
      val split = expr("timestamp'2024-01-20 00:00:00'")
      val base = snap(ev.filter(col("ts") < split))
      val delta = ev.filter(col("ts") >= split)
      snap(base.unionByName(delta))
        .select(col("user_id"), col("event_type").as("last_type"),
          col("value").as("last_value"), col("ts").as("last_ts"))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT user_id, event_type AS last_type, value AS last_value,
             ts AS last_ts
      FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1 AND event_type <> 'error'
      ORDER BY user_id"""))

  /** SCD2 history build ([[Incremental.scd2]]): each user's event_type
    * stream collapses into validity intervals — one row per run of equal
    * values with [valid_from, valid_to) bounds, a version ordinal, and
    * an is_current flag. lag/lead/row_number share one (key, seq) window
    * spec = one shuffle + one sort per key partition. */
  val q58_scd2 = QueryDef(
    "q58_scd2",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      Incremental.scd2(
          ev,
          keys = Seq("user_id"),
          attrs = Seq("event_type"),
          seqCol = col("ts"),
          tiebreak = Seq(col("event_id")))
        .withColumn("is_current", col("is_current").cast("int"))
        .orderBy(col("user_id"), col("version"))
    },
    Some("""
      WITH runs AS (
        SELECT user_id, ts, event_id, event_type
        FROM (SELECT user_id, ts, event_id, event_type,
                     lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
              FROM events)
        WHERE prev_type IS NULL OR prev_type <> event_type)
      SELECT user_id, event_type, ts AS valid_from,
             lead(ts) OVER w AS valid_to,
             cast(row_number() OVER w AS bigint) AS version,
             cast(lead(ts) OVER w IS NULL AS int) AS is_current
      FROM runs
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, version"""))

  /** Per-key hourly resample + forward fill
    * ([[graft.operators.TimeSeries.resampleFfill]]): each user's hourly
    * activity is densified onto that user's own [first, last] hour grid
    * and the running value carried through gap hours. The grid is
    * generated per key (sum of spans, not global-span × keys), the gap
    * join is keyed, and the fill is a per-key window — no global ops. */
  val q59_resample_ffill = QueryDef(
    "q59_resample_ffill",
    (s, dir) => {
      val observed = Tables(s, dir).events
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
        .agg(
          Aggregates.sumExact(col("value")).as("sum_value"),
          count(lit(1)).as("n_events"))
      graft.operators.TimeSeries
        .resampleFfill(observed, Seq("user_id"), "hour", "1 hour",
          fillCols = Seq("sum_value"))
        .select(col("user_id"), col("hour"), col("sum_value"),
          coalesce(col("n_events"), lit(0L)).as("n_events"), col("is_observed"))
        .orderBy(col("user_id"), col("hour"))
    },
    Some(s"""
      WITH observed AS (
        SELECT user_id, date_trunc('hour', ts) AS hour,
               ${sumExactSql("value")} AS sum_value, count(*) AS n_events
        FROM events GROUP BY 1, 2),
      spans AS (
        SELECT user_id, min(hour) AS lo, max(hour) AS hi
        FROM observed GROUP BY 1),
      grid AS (
        SELECT s.user_id, g.h AS hour
        FROM spans s, LATERAL unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS g(h)),
      j AS (
        SELECT g.user_id, g.hour, o.sum_value, o.n_events,
               cast(o.user_id IS NOT NULL AS int) AS is_observed
        FROM grid g LEFT JOIN observed o
          ON g.user_id = o.user_id AND g.hour = o.hour)
      SELECT user_id, hour,
             last_value(sum_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value,
             coalesce(n_events, 0) AS n_events, is_observed
      FROM j ORDER BY user_id, hour"""))

  /** Blocked fuzzy join ([[Joins.fuzzySelfJoin]]): spelling-variant
    * pairs among the distinct part names within edit distance 2,
    * blocked on (first token | last token) — a union of equi-joins over
    * the name dictionary, never an all-pairs cross join. */
  val q60_fuzzy_join = QueryDef(
    "q60_fuzzy_join",
    (s, dir) => {
      val names = Tables(s, dir).part.select(col("p_name"))
      Joins
        .fuzzySelfJoin(names, "p_name", maxDistance = 2,
          blocks = Seq(
            n => split(n, " ").getItem(0),
            n => element_at(split(n, " "), -1)))
        .orderBy(col("a"), col("b"))
    },
    Some("""
      WITH dict AS (SELECT DISTINCT p_name AS n FROM part),
      keyed AS (
        SELECT n, 0 AS bi, string_split(n, ' ')[1] AS bk FROM dict
        UNION ALL
        SELECT n, 1 AS bi, string_split(n, ' ')[-1] AS bk FROM dict),
      cand AS (
        SELECT DISTINCT l.n AS a, r.n AS b
        FROM keyed l JOIN keyed r
          ON l.bi = r.bi AND l.bk = r.bk AND l.n < r.n)
      SELECT a, b, levenshtein(a, b) AS dist
      FROM cand WHERE levenshtein(a, b) <= 2
      ORDER BY a, b"""))

  /** Equi-depth quantile binning — the scale-correct replacement for a
    * global-window `ntile`: one exact-percentile aggregate computes the
    * bin boundaries (at 100 TB swap in `approx_percentile`, same
    * two-pass shape), the 1-row boundary relation broadcasts onto the
    * scan, and the bin id is three scan-local comparisons — no global
    * sort, no single-partition window anywhere. Ties at a boundary fall
    * to the lower bin in both engines (strict `>` against identical
    * IEEE doubles; Spark `percentile` == DuckDB `quantile_cont`, proven
    * by q41). */
  val q61_quantile_bins = QueryDef(
    "q61_quantile_bins",
    (s, dir) => {
      val li = Tables(s, dir).lineitem
      val bounds = li.agg(
        expr("percentile(l_extendedprice, array(0.25d, 0.5d, 0.75d))").as("__b"))
      li.crossJoin(broadcast(bounds))
        .withColumn("bin",
          ((col("l_extendedprice") > col("__b")(0)).cast("int") +
            (col("l_extendedprice") > col("__b")(1)).cast("int") +
            (col("l_extendedprice") > col("__b")(2)).cast("int")).cast("long"))
        .groupBy(col("bin"))
        .agg(
          count(lit(1)).as("n"),
          round(min(col("l_extendedprice")), 6).as("lo_price"),
          round(max(col("l_extendedprice")), 6).as("hi_price"))
        .orderBy(col("bin"))
    },
    Some("""
      WITH b AS (
        SELECT quantile_cont(l_extendedprice, 0.25) AS p1,
               quantile_cont(l_extendedprice, 0.5)  AS p2,
               quantile_cont(l_extendedprice, 0.75) AS p3
        FROM lineitem)
      SELECT CAST(CAST(l_extendedprice > p1 AS INT) + CAST(l_extendedprice > p2 AS INT)
               + CAST(l_extendedprice > p3 AS INT) AS BIGINT) AS bin,
             count(*) AS n,
             round(min(l_extendedprice), 6) AS lo_price,
             round(max(l_extendedprice), 6) AS hi_price
      FROM lineitem, b
      GROUP BY 1 ORDER BY 1"""))

  /** One-pass column profiler ([[graft.operators.Profile]]): the
    * ingest-time corpus sanity report — per-column rows / nulls / exact
    * distincts / typed extremes / mean string length, all from a single
    * scan and one mergeable aggregation. The oracle computes each
    * column's row independently and unions them. */
  val q63_profile = QueryDef(
    "q63_profile",
    (s, dir) =>
      graft.operators.Profile
        .profile(Tables(s, dir).documents,
          Seq("doc_id", "lang", "n_chars", "source", "text"))
        .orderBy(col("col_name")),
    Some {
      def num(c: String) = s"""
        SELECT '$c' AS col_name, count(*) AS n_rows,
               count(*) - count($c) AS n_nulls,
               count(DISTINCT $c) AS n_distinct,
               cast(min($c) as double) AS min_num,
               cast(max($c) as double) AS max_num,
               cast(NULL as varchar) AS min_str, cast(NULL as varchar) AS max_str,
               cast(NULL as double) AS avg_len
        FROM documents"""
      def str(c: String) = s"""
        SELECT '$c' AS col_name, count(*) AS n_rows,
               count(*) - count($c) AS n_nulls,
               count(DISTINCT $c) AS n_distinct,
               cast(NULL as double) AS min_num, cast(NULL as double) AS max_num,
               min($c) AS min_str, max($c) AS max_str,
               round(cast(sum(length($c)) as double) / count($c), 6) AS avg_len
        FROM documents"""
      Seq(num("doc_id"), str("lang"), num("n_chars"), str("source"), str("text"))
        .mkString("", " UNION ALL ", " ORDER BY col_name")
    })

  /** One-pass correlation matrix ([[graft.operators.Profile.corrMatrix]]):
    * pairwise Pearson corr + population covariance from exact decimal
    * co-moments — one scan, one mergeable aggregate row, the closed-form
    * combine replayed identically by the oracle. */
  val q64_corr_matrix = QueryDef(
    "q64_corr_matrix",
    (s, dir) =>
      graft.operators.Profile
        .corrMatrix(Tables(s, dir).lineitem,
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("col_x"), col("col_y")),
    oracle = Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      // decimal(28,6): DuckDB multiplies width-18 decimals in int64 and
      // overflows; width 28 forces int128. Values are exact either way,
      // so the doubles match Spark's decimal(18,6) accumulation.
      def d(c: String) = s"cast($c as decimal(28,6))"
      val sums =
        cols.map(c => s"cast(sum(${d(c)}) as double) AS s_$c") ++
          (for { i <- cols.indices; j <- i until cols.size }
            yield s"cast(sum(${d(cols(i))} * ${d(cols(j))}) as double) AS p_${cols(i)}__${cols(j)}")
      val rows = for {
        i <- cols.indices; j <- (i + 1) until cols.size
        a = cols(i); b = cols(j)
      } yield s"""
        SELECT '$a' AS col_x, '$b' AS col_y, n,
               round((nd * p_${a}__$b - s_$a * s_$b) / (nd * nd), 6) AS cov_pop,
               round((nd * p_${a}__$b - s_$a * s_$b) /
                     sqrt((nd * p_${a}__$a - s_$a * s_$a) * (nd * p_${b}__$b - s_$b * s_$b)),
                     6) AS corr
        FROM m"""
      s"""
      WITH m AS (
        SELECT count(*) AS n, cast(count(*) as double) AS nd,
               ${sums.mkString(",\n               ")}
        FROM lineitem
        WHERE ${cols.map(c => s"$c IS NOT NULL").mkString(" AND ")})
      ${rows.mkString(" UNION ALL ")}
      ORDER BY col_x, col_y"""
    })

  /** Equi-width histogram ([[graft.operators.Profile.histogram]]): the
    * distribution half of the ingest profile — broadcast min/max bounds,
    * scan-local bucket arithmetic, keyed aggregation over `bins` groups,
    * empty buckets materialized from the bounds-row spine. */
  val q65_histogram = QueryDef(
    "q65_histogram",
    (s, dir) =>
      graft.operators.Profile
        .histogram(Tables(s, dir).lineitem, "l_extendedprice", bins = 20)
        .orderBy(col("bin")),
    Some("""
      WITH b AS (
        SELECT cast(min(l_extendedprice) as double) AS lo,
               cast(max(l_extendedprice) as double) AS hi
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      spine AS (
        SELECT unnest(range(0, 20)) AS bin, lo, hi FROM b),
      counts AS (
        SELECT CASE WHEN hi = lo THEN 0
                    ELSE least(19, cast(floor((cast(l_extendedprice as double) - lo)
                                              / (hi - lo) * 20) as bigint)) END AS bin,
               count(*) AS cnt
        FROM lineitem, b WHERE l_extendedprice IS NOT NULL
        GROUP BY 1)
      SELECT spine.bin AS bin,
             round(lo + (hi - lo) * spine.bin / 20, 6) AS lo_edge,
             round(lo + (hi - lo) * (spine.bin + 1) / 20, 6) AS hi_edge,
             coalesce(cnt, 0) AS n
      FROM spine LEFT JOIN counts ON spine.bin = counts.bin
      ORDER BY bin"""))

  /** Schema-evolution union ([[graft.Frame.concatEvolved]]): a new
    * shard version adds `o_orderstatus` and drops `o_custkey`; the
    * evolved UNION ALL BY NAME null-fills both directions with no shard
    * rewrite. Zero-shuffle narrow union in both engines. */
  val q68_union_evolved = QueryDef(
    "q68_union_evolved",
    (s, dir) => {
      val o = Tables(s, dir).orders
      val oldShard = o.filter(col("o_orderkey") < 7500)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val newShard = o.filter(col("o_orderkey") >= 7500)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      graft.Frame(oldShard).concatEvolved(graft.Frame(newShard)).df
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey < 7500
      UNION ALL BY NAME
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey >= 7500
      ORDER BY o_orderkey"""))

  /** As-of join with a staleness tolerance (pandas merge_asof
    * `tolerance`): each click takes its user's most recent purchase
    * ONLY if it happened within the trailing hour — older matches
    * yield null. Same single keyed shuffle as q38; the oracle replays
    * with DuckDB ASOF LEFT JOIN + an explicit staleness gate. */
  val q69_asof_tolerance = QueryDef(
    "q69_asof_tolerance",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
      Joins
        .asofJoin(clicks, purchases, Seq("user_id"), "ts",
          Seq("purchase_value"), toleranceSeconds = Some(3600L))
        .select(
          col("event_id"), col("user_id"), col("ts"),
          round(col("purchase_value"), 6).as("purchase_value"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts, max(value) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT c.event_id, c.user_id, c.ts,
             CASE WHEN p.ts IS NOT NULL
                    AND epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000
                  THEN round(p.purchase_value, 6) END AS purchase_value
      FROM clicks c ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND p.ts <= c.ts
      ORDER BY c.event_id"""))

  /** Nearest-direction as-of join with tolerance (pandas merge_asof
    * direction='nearest'): each click takes whichever purchase —
    * before or after — is closer in time, if within 30 minutes; equal
    * distances resolve backward. One keyed shuffle, two in-partition
    * sweeps. The oracle runs backward and forward DuckDB ASOF joins
    * and replays the distance comparison. */
  val q70_asof_nearest = QueryDef(
    "q70_asof_nearest",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
      Joins
        .asofJoin(clicks, purchases, Seq("user_id"), "ts",
          Seq("purchase_value"), Some(1800L), "nearest")
        .select(
          col("event_id"), col("user_id"), col("ts"),
          round(col("purchase_value"), 6).as("purchase_value"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts, max(value) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      b AS (
        SELECT c.event_id, p.ts AS bts, p.purchase_value AS bval
        FROM clicks c ASOF LEFT JOIN purch p
          ON c.user_id = p.user_id AND c.ts >= p.ts),
      f AS (
        SELECT c.event_id, p.ts AS fts, p.purchase_value AS fval
        FROM clicks c ASOF LEFT JOIN purch p
          ON c.user_id = p.user_id AND c.ts <= p.ts)
      SELECT c.event_id, c.user_id, c.ts,
             round(CASE
               WHEN bts IS NULL AND fts IS NULL THEN NULL
               WHEN bts IS NULL OR (fts IS NOT NULL AND
                    epoch_us(fts) - epoch_us(c.ts) < epoch_us(c.ts) - epoch_us(bts))
                 THEN CASE WHEN epoch_us(fts) - epoch_us(c.ts) <= 1800000000
                           THEN fval END
               ELSE CASE WHEN epoch_us(c.ts) - epoch_us(bts) <= 1800000000
                         THEN bval END
             END, 6) AS purchase_value
      FROM clicks c JOIN b USING (event_id) JOIN f USING (event_id)
      ORDER BY c.event_id"""))

  /** Retention cohort analysis — the classic product-analytics matrix:
    * users cohorted by FIRST-activity week, activity counted per
    * (cohort, week offset). Weeks are epoch-microsecond integer
    * divisions (no calendar arithmetic — identical longs in both
    * engines); the shape is two user-keyed aggregations plus one
    * (cohort, offset) rollup with a partial-aggregated distinct — no
    * window over raw events, so the plan scales like q52's funnel. */
  val q74_retention_cohorts = QueryDef(
    "q74_retention_cohorts",
    (s, dir) => {
      val wk = Tables(s, dir).events
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("wk"))
      val cohort = wk.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
      wk.join(cohort, Seq("user_id"))
        .groupBy(col("cw").as("cohort_week"),
          (col("wk") - col("cw")).as("week_offset"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
    Some("""
      WITH w AS (
        SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
      c AS (SELECT user_id, min(wk) AS cw FROM w GROUP BY user_id)
      SELECT c.cw AS cohort_week, w.wk - c.cw AS week_offset,
             cast(count(DISTINCT w.user_id) AS BIGINT) AS n_users,
             cast(count(*) AS BIGINT) AS n_events
      FROM w JOIN c USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Robust anomaly detection ([[graft.operators.TimeSeries
    * .madAnomalies]]): the Hampel median/MAD outlier rule per
    * event_type over the heavy-tailed `value` — the telemetry-spike
    * detector a mean/stddev z-score gets wrong (the spikes inflate the
    * stddev that is supposed to catch them). All arithmetic on
    * quantized cents; medians of longs are exact halves; the oracle
    * replays the doubled-units deviation trick bit-for-bit via
    * `quantile_cont` (same linear interpolation as Spark's exact
    * `percentile`). */
  val q75_mad_anomaly = QueryDef(
    "q75_mad_anomaly",
    (s, dir) =>
      graft.operators.TimeSeries
        .madAnomalies(
          Tables(s, dir).events
            .select(col("event_id"), col("event_type"), col("value")),
          "event_type", "value", threshold = 3.0, scale = 100L)
        .select(col("event_type"), col("event_id"), col("value"),
          col("score"))
        .orderBy(col("event_type"), col("event_id")),
    Some("""
      WITH q75_b AS (
        SELECT event_type, event_id, value,
               CAST(round(value * 100.0, 0) AS BIGINT) AS qv
        FROM events),
      q75_m AS (
        SELECT event_type, quantile_cont(qv, 0.5) AS med
        FROM q75_b GROUP BY 1),
      q75_d AS (
        SELECT b.event_type, b.event_id, b.value,
               abs(b.qv * 2 - CAST(m.med * 2.0 AS BIGINT)) AS dev2
        FROM q75_b b JOIN q75_m m USING (event_type)),
      q75_s AS (
        SELECT event_type, quantile_cont(dev2, 0.5) AS mad2
        FROM q75_d GROUP BY 1)
      SELECT d.event_type, d.event_id, d.value,
             round(CAST(d.dev2 AS DOUBLE) / s.mad2, 6) AS score
      FROM q75_d d JOIN q75_s s USING (event_type)
      WHERE s.mad2 > 0.0 AND CAST(d.dev2 AS DOUBLE) > 3.0 * s.mad2
      ORDER BY d.event_type, d.event_id"""))

  /** Exact heavy hitters via sketch-guided pruning
    * ([[graft.operators.Aggregates.exactHeavyHitters]]): a mergeable
    * Misra–Gries pass bounds the candidate set, the exact aggregation
    * then shuffles ONLY candidate-key rows, and the run certifies its
    * own exactness (min(top-k)·(capacity+1) > N — integer arithmetic
    * on exact counts). The q55-bloom-join idea applied to aggregation.
    * Fixture: a linear-skew key (floor √(orderkey mod 10⁴), count ∝
    * 2k+1) certified at all three SFs; the oracle is the PLAIN exact
    * top-k plus the same certification formula. */
  val q76_heavy_hitters = QueryDef(
    "q76_heavy_hitters",
    (s, dir) =>
      graft.operators.Aggregates
        .exactHeavyHitters(
          Tables(s, dir).lineitem.select(
            floor(sqrt(pmod(col("l_orderkey"), lit(10000L)).cast("double")))
              .cast("long").as("hot_key")),
          "hot_key", k = 10, capacity = 64)
        .select(col("hot_key"), col("cnt"), col("rank").cast("long").as("rank"),
          col("certified"))
        .orderBy(col("rank")),
    Some("""
      WITH q76_k AS (
        SELECT CAST(floor(sqrt(CAST(l_orderkey % 10000 AS DOUBLE))) AS BIGINT)
          AS hot_key
        FROM lineitem),
      q76_c AS (
        SELECT hot_key, cast(count(*) AS BIGINT) AS cnt
        FROM q76_k GROUP BY 1),
      q76_t AS (
        SELECT hot_key, cnt FROM q76_c ORDER BY cnt DESC, hot_key LIMIT 10),
      q76_n AS (SELECT cast(count(*) AS BIGINT) AS nn FROM q76_k),
      q76_m AS (SELECT cast(min(cnt) AS BIGINT) AS mc,
                       cast(count(*) AS BIGINT) AS rws FROM q76_t)
      SELECT t.hot_key, t.cnt,
             cast(row_number() OVER (ORDER BY t.cnt DESC, t.hot_key) AS BIGINT)
               AS rank,
             (rws = 10 AND mc * 65 > nn) AS certified
      FROM q76_t t CROSS JOIN q76_n CROSS JOIN q76_m
      ORDER BY rank"""))

  /** Experiment readout ([[graft.operators.Experiments.welchAbTest]]):
    * Welch's unequal-variance t per event type between a deterministic
    * 50/50 user split, computed over per-USER revenue (the
    * randomization unit), from exact integer moments (cents; Σm² in
    * DECIMAL). The oracle replays the unit collapse, the moment
    * aggregation, and the SAME fixed-shape double formula — t and the
    * Welch–Satterthwaite df match to the bit before the shared 6-dp
    * round. */
  val q77_ab_welch = QueryDef(
    "q77_ab_welch",
    (s, dir) =>
      graft.operators.Experiments
        .welchAbTest(
          Tables(s, dir).events(fan = false) // keyed by event_type
            .filter(col("user_id").isNotNull)
            .select(
              col("event_type"),
              pmod(col("user_id"), lit(2L)).cast("int").as("arm"),
              col("user_id"),
              round(col("value") * 100.0, 0).cast("long").as("cents")),
          "event_type", "arm", "user_id", "cents")
        .orderBy(col("event_type")),
    Some("""
      WITH q77_u AS (
        SELECT event_type, (user_id % 2)::INT AS arm, user_id,
               CAST(round(value * 100.0) AS BIGINT) AS cents
        FROM events WHERE user_id IS NOT NULL),
      q77_m AS (
        SELECT event_type, arm, user_id, cast(sum(cents) AS BIGINT) AS m
        FROM q77_u GROUP BY 1, 2, 3),
      q77_a AS (
        SELECT event_type, arm,
               cast(count(*) AS BIGINT) AS n,
               cast(sum(m) AS BIGINT) AS s,
               sum(m::HUGEINT * m::HUGEINT) AS ss
        FROM q77_m GROUP BY 1, 2),
      q77_w AS (
        SELECT event_type,
               max(CASE WHEN arm = 0 THEN n END) AS n0,
               max(CASE WHEN arm = 0 THEN s END) AS s0,
               max(CASE WHEN arm = 0 THEN ss END) AS ss0,
               max(CASE WHEN arm = 1 THEN n END) AS n1,
               max(CASE WHEN arm = 1 THEN s END) AS s1,
               max(CASE WHEN arm = 1 THEN ss END) AS ss1
        FROM q77_a GROUP BY 1),
      q77_d AS (
        SELECT event_type, n0, n1,
               s0::DOUBLE / (100.0 * n0::DOUBLE) AS m0,
               s1::DOUBLE / (100.0 * n1::DOUBLE) AS m1,
               ((ss0::DOUBLE - s0::DOUBLE * s0::DOUBLE / n0::DOUBLE)
                 / (n0::DOUBLE - 1.0) / 10000.0) / n0::DOUBLE AS se0,
               ((ss1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
                 / (n1::DOUBLE - 1.0) / 10000.0) / n1::DOUBLE AS se1
        FROM q77_w WHERE n0 IS NOT NULL AND n1 IS NOT NULL),
      q77_f AS (
        SELECT event_type, n0, n1, m0, m1, se0 + se1 AS se2, se0, se1
        FROM q77_d)
      SELECT event_type,
             n0 AS n_control, n1 AS n_treat,
             round(m0, 6) AS mean_control,
             round(m1, 6) AS mean_treat,
             CASE WHEN n0 > 1 AND n1 > 1 AND se2 > 0.0
               THEN round((m1 - m0) / sqrt(se2), 6) END AS welch_t,
             CASE WHEN n0 > 1 AND n1 > 1 AND se2 > 0.0
               THEN round((se2 * se2) /
                 (se0 * se0 / (n0::DOUBLE - 1.0) +
                  se1 * se1 / (n1::DOUBLE - 1.0)), 6) END AS welch_df
      FROM q77_f
      ORDER BY event_type"""))

  /** CUPED variance-reduced readout
    * ([[graft.operators.Experiments.cupedAbTest]]): q77's test with
    * each user's PRE-period revenue (Jan 1–15) as the control
    * covariate for the experiment-period metric (Jan 16–30) — the
    * Deng-et-al adjustment every experimentation platform runs. All
    * adjusted statistics are ALGEBRA over one exact moment matrix
    * ({n, ΣX, ΣY, ΣX², ΣY², ΣXY} per arm, products in HUGEINT/DECIMAL)
    * — Y′ never materializes per unit — so the oracle replays the
    * identical fixed-shape double formula. */
  val q78_cuped = QueryDef(
    "q78_cuped",
    (s, dir) => {
      val cents = round(col("value") * 100.0, 0).cast("long")
      val cut = to_timestamp(lit("2024-01-16 00:00:00"))
      graft.operators.Experiments
        .cupedAbTest(
          Tables(s, dir).events(fan = false) // keyed by event_type
            .filter(col("user_id").isNotNull)
            .select(
              col("event_type"),
              pmod(col("user_id"), lit(2L)).cast("int").as("arm"),
              col("user_id"),
              when(col("ts") >= cut, cents).otherwise(lit(0L)).as("y_cents"),
              when(col("ts") < cut, cents).otherwise(lit(0L)).as("x_cents")),
          "event_type", "arm", "user_id", "y_cents", "x_cents")
        .orderBy(col("event_type"))
    },
    Some("""
      WITH q78_e AS (
        SELECT event_type, (user_id % 2)::INT AS arm, user_id,
               CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                 THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END AS y,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                 THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END AS x
        FROM events WHERE user_id IS NOT NULL),
      q78_m AS (
        SELECT event_type, arm, user_id,
               cast(sum(y) AS BIGINT) AS my, cast(sum(x) AS BIGINT) AS mx
        FROM q78_e GROUP BY 1, 2, 3),
      q78_a AS (
        SELECT event_type, arm,
               cast(count(*) AS BIGINT) AS n,
               cast(sum(my) AS BIGINT) AS sy,
               cast(sum(mx) AS BIGINT) AS sx,
               sum(my::HUGEINT * my::HUGEINT) AS syy,
               sum(mx::HUGEINT * mx::HUGEINT) AS sxx,
               sum(mx::HUGEINT * my::HUGEINT) AS sxy
        FROM q78_m GROUP BY 1, 2),
      q78_w AS (
        SELECT event_type,
               max(CASE WHEN arm = 0 THEN n END) AS n0,
               max(CASE WHEN arm = 0 THEN sy END) AS sy0,
               max(CASE WHEN arm = 0 THEN sx END) AS sx0,
               max(CASE WHEN arm = 0 THEN syy END) AS syy0,
               max(CASE WHEN arm = 0 THEN sxx END) AS sxx0,
               max(CASE WHEN arm = 0 THEN sxy END) AS sxy0,
               max(CASE WHEN arm = 1 THEN n END) AS n1,
               max(CASE WHEN arm = 1 THEN sy END) AS sy1,
               max(CASE WHEN arm = 1 THEN sx END) AS sx1,
               max(CASE WHEN arm = 1 THEN syy END) AS syy1,
               max(CASE WHEN arm = 1 THEN sxx END) AS sxx1,
               max(CASE WHEN arm = 1 THEN sxy END) AS sxy1
        FROM q78_a GROUP BY 1),
      q78_p AS (
        SELECT *,
               (n0 + n1)::DOUBLE AS np, (sx0 + sx1)::DOUBLE AS sxp,
               (sy0 + sy1)::DOUBLE AS syp, (sxx0 + sxx1)::DOUBLE AS sxxp,
               (syy0 + syy1)::DOUBLE AS syyp, (sxy0 + sxy1)::DOUBLE AS sxyp
        FROM q78_w WHERE n0 IS NOT NULL AND n1 IS NOT NULL),
      q78_t AS (
        SELECT *,
               (sxxp - sxp * sxp / np) / (np - 1.0) AS varxp,
               (syyp - syp * syp / np) / (np - 1.0) AS varyp,
               (sxyp - sxp * syp / np) / (np - 1.0) AS covp
        FROM q78_p),
      q78_h AS (
        SELECT *,
               CASE WHEN varxp > 0.0 THEN covp / varxp ELSE 0.0 END AS theta,
               sxp / np AS mxp
        FROM q78_t),
      q78_s AS (
        SELECT *,
               sy0::DOUBLE / n0::DOUBLE
                 - theta * (sx0::DOUBLE / n0::DOUBLE - mxp) AS madj0,
               sy1::DOUBLE / n1::DOUBLE
                 - theta * (sx1::DOUBLE / n1::DOUBLE - mxp) AS madj1,
               ((syy0::DOUBLE - sy0::DOUBLE * sy0::DOUBLE / n0::DOUBLE)
                  / (n0::DOUBLE - 1.0)
                - 2.0 * theta * ((sxy0::DOUBLE
                  - sx0::DOUBLE * sy0::DOUBLE / n0::DOUBLE)
                  / (n0::DOUBLE - 1.0))
                + theta * theta * ((sxx0::DOUBLE
                  - sx0::DOUBLE * sx0::DOUBLE / n0::DOUBLE)
                  / (n0::DOUBLE - 1.0))) / n0::DOUBLE AS se0,
               ((syy1::DOUBLE - sy1::DOUBLE * sy1::DOUBLE / n1::DOUBLE)
                  / (n1::DOUBLE - 1.0)
                - 2.0 * theta * ((sxy1::DOUBLE
                  - sx1::DOUBLE * sy1::DOUBLE / n1::DOUBLE)
                  / (n1::DOUBLE - 1.0))
                + theta * theta * ((sxx1::DOUBLE
                  - sx1::DOUBLE * sx1::DOUBLE / n1::DOUBLE)
                  / (n1::DOUBLE - 1.0))) / n1::DOUBLE AS se1
        FROM q78_h),
      q78_f AS (SELECT *, se0 + se1 AS se2 FROM q78_s)
      SELECT event_type,
             n0 AS n_control, n1 AS n_treat,
             round(theta, 6) AS theta,
             round(madj0 / 100.0, 6) AS mean_control_adj,
             round(madj1 / 100.0, 6) AS mean_treat_adj,
             CASE WHEN n0 > 1 AND n1 > 1 AND se2 > 0.0
               THEN round((madj1 - madj0) / sqrt(se2), 6) END AS welch_t_adj,
             CASE WHEN n0 > 1 AND n1 > 1 AND se2 > 0.0
               THEN round((se2 * se2) /
                 (se0 * se0 / (n0::DOUBLE - 1.0) +
                  se1 * se1 / (n1::DOUBLE - 1.0)), 6) END AS welch_df_adj,
             round(CASE WHEN varxp > 0.0 AND varyp > 0.0
               THEN covp * covp / (varxp * varyp) ELSE 0.0 END, 6)
               AS var_reduction
      FROM q78_f
      ORDER BY event_type"""))

  /** N-step strict-order funnel ([[graft.operators.Funnel.funnel]]):
    * the q52 shape generalized — arbitrary step lists, ONE user-keyed
    * shuffle (q52 joins the raw stream once PER stage), and a per-step
    * conversion table with zero-reach steps kept. The oracle replays
    * the greedy chain as a lambda-free join cascade (min step-k time
    * strictly after the step-(k−1) match). */
  val q79_funnel_steps = QueryDef(
    "q79_funnel_steps",
    (s, dir) =>
      graft.operators.Funnel
        .funnel(
          Tables(s, dir).events.filter(col("user_id").isNotNull),
          "user_id", "event_type", "ts",
          Seq("signup", "view", "click", "purchase"))
        .orderBy(col("step")),
    Some("""
      WITH q79_e AS (
        SELECT user_id AS u, event_type AS et, epoch_us(ts) AS t
        FROM events WHERE user_id IS NOT NULL),
      q79_s1 AS (
        SELECT u, min(t) AS t1 FROM q79_e WHERE et = 'signup' GROUP BY 1),
      q79_s2 AS (
        SELECT e.u, min(t) AS t2 FROM q79_e e JOIN q79_s1 s ON e.u = s.u
        WHERE et = 'view' AND t > s.t1 GROUP BY 1),
      q79_s3 AS (
        SELECT e.u, min(t) AS t3 FROM q79_e e JOIN q79_s2 s ON e.u = s.u
        WHERE et = 'click' AND t > s.t2 GROUP BY 1),
      q79_s4 AS (
        SELECT e.u, min(t) AS t4 FROM q79_e e JOIN q79_s3 s ON e.u = s.u
        WHERE et = 'purchase' AND t > s.t3 GROUP BY 1),
      q79_n AS (
        SELECT (SELECT cast(count(*) AS BIGINT) FROM q79_s1) AS n1,
               (SELECT cast(count(*) AS BIGINT) FROM q79_s2) AS n2,
               (SELECT cast(count(*) AS BIGINT) FROM q79_s3) AS n3,
               (SELECT cast(count(*) AS BIGINT) FROM q79_s4) AS n4)
      SELECT * FROM (
        SELECT 1 AS step, 'signup' AS event_type, n1 AS users,
               CAST(NULL AS DOUBLE) AS conv_prev,
               round(n1::DOUBLE / nullif(n1::DOUBLE, 0.0), 6) AS conv_first
        FROM q79_n
        UNION ALL
        SELECT 2, 'view', n2,
               round(n2::DOUBLE / nullif(n1::DOUBLE, 0.0), 6),
               round(n2::DOUBLE / nullif(n1::DOUBLE, 0.0), 6) FROM q79_n
        UNION ALL
        SELECT 3, 'click', n3,
               round(n3::DOUBLE / nullif(n2::DOUBLE, 0.0), 6),
               round(n3::DOUBLE / nullif(n1::DOUBLE, 0.0), 6) FROM q79_n
        UNION ALL
        SELECT 4, 'purchase', n4,
               round(n4::DOUBLE / nullif(n3::DOUBLE, 0.0), 6),
               round(n4::DOUBLE / nullif(n1::DOUBLE, 0.0), 6) FROM q79_n)
      ORDER BY step"""))

  /** Pareto concentration ([[graft.operators.Aggregates
    * .paretoConcentration]]): customers ranked by lifetime revenue,
    * cut into deciles, cumulative share per tier — the 80/20 readout,
    * with the global rank and running sum planned through the custom
    * PrefixSumExec (parallel range sort), never a single-task window.
    * The oracle replays it with DuckDB's window functions. */
  val q80_pareto = QueryDef(
    "q80_pareto",
    (s, dir) =>
      graft.operators.Aggregates
        .paretoConcentration(
          Tables(s, dir).orders.select(
            col("o_custkey"),
            round(col("o_totalprice") * 100.0, 0).cast("long").as("cents")),
          "o_custkey", "cents", buckets = 10)
        .orderBy(col("bucket")),
    Some("""
      WITH q80_r AS (
        SELECT o_custkey AS k,
               cast(sum(CAST(round(o_totalprice * 100.0) AS BIGINT))
                 AS BIGINT) AS w
        FROM orders GROUP BY 1),
      q80_t AS (
        SELECT cast(count(*) AS BIGINT) AS n, cast(sum(w) AS BIGINT) AS t
        FROM q80_r),
      q80_w AS (
        SELECT w,
               row_number() OVER (ORDER BY w DESC, k) - 1 AS idx,
               cast(coalesce(sum(w) OVER (ORDER BY w DESC, k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cumb
        FROM q80_r)
      SELECT CAST(idx * 10 // n + 1 AS INT) AS bucket,
             cast(count(*) AS BIGINT) AS keys,
             cast(sum(w) AS BIGINT) AS weight,
             round(max(cumb + w)::DOUBLE / nullif(t::DOUBLE, 0.0), 6)
               AS cum_share
      FROM q80_w CROSS JOIN q80_t
      GROUP BY 1, n, t ORDER BY 1"""))

  /** Hourly EWMA spike detection ([[graft.operators.TimeSeries
    * .ewmaSpikes]]): per event type, the dense hour grid smoothed by an
    * integer α=1/8 EWMA, hours flagged when the raw count deviates
    * from the prior smoothed level by more than half of it. The
    * recurrence is non-negative integer arithmetic, so the DuckDB
    * replay is a recursive CTE stepping one hour per iteration
    * (depth = the time range, independent of data volume). */
  val q81_ewma_spikes = QueryDef(
    "q81_ewma_spikes",
    (s, dir) =>
      graft.operators.TimeSeries
        .ewmaSpikes(Tables(s, dir).events, "event_type", "ts")
        .orderBy(col("event_type"), col("hour_epoch_s")),
    Some("""
      WITH RECURSIVE q81_hc AS MATERIALIZED (
        SELECT event_type AS k, epoch_us(ts) // 3600000000 AS h,
               cast(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      q81_bd AS MATERIALIZED (SELECT min(h) AS lo, max(h) AS hi FROM q81_hc),
      q81_ks AS (SELECT DISTINCT k FROM q81_hc),
      q81_is AS (
        SELECT unnest(generate_series(
          0, (SELECT hi - lo FROM q81_bd))) AS i),
      q81_grid AS MATERIALIZED (
        SELECT ks.k, ii.i, coalesce(hc.c, 0) AS c
        FROM q81_ks ks CROSS JOIN q81_is ii
        LEFT JOIN (SELECT k, h - (SELECT lo FROM q81_bd) AS i, c
                   FROM q81_hc) hc
          ON hc.k = ks.k AND hc.i = ii.i),
      q81_r AS (
        SELECT k, i, c, cast(c * 1000000 AS BIGINT) AS e, false AS f,
               cast(c * 1000000 AS BIGINT) AS s
        FROM q81_grid WHERE i = 0
        UNION ALL
        SELECT g.k, g.i, g.c,
               cast((7 * r.s + g.c * 1000000) // 8 AS BIGINT) AS e,
               (2 * abs(g.c * 1000000 - r.s) > 1 * r.s) AS f,
               cast((7 * r.s + g.c * 1000000) // 8 AS BIGINT) AS s
        FROM q81_r r JOIN q81_grid g ON g.k = r.k AND g.i = r.i + 1)
      SELECT k AS event_type,
             cast((i + (SELECT lo FROM q81_bd)) * 3600 AS BIGINT)
               AS hour_epoch_s,
             c AS cnt, e AS ewma_q, f AS spike
      FROM q81_r ORDER BY event_type, hour_epoch_s"""))

  /** Linear multi-touch attribution ([[graft.operators.Funnel
    * .linearAttribution]]): every purchase's cents split equally over
    * the user's view/click touches inside a 48 h lookback — capped at
    * the 100 nearest-in-time touches per conversion (the bot-user skew
    * discipline; the oracle replays the same rank filter) — untouched
    * purchases crediting `direct`; micro-cent integer shares, so the
    * DuckDB replay is bit-exact. */
  val q82_attribution = QueryDef(
    "q82_attribution",
    (s, dir) =>
      graft.operators.Funnel
        .linearAttribution(
          Tables(s, dir).events,
          "user_id", "event_type", "ts", "event_id", "value",
          touchTypes = Seq("view", "click"),
          conversionType = "purchase",
          lookbackHours = 48L)
        .orderBy(col("channel")),
    Some("""
      WITH q82_c AS (
        SELECT user_id AS u, event_id AS pid, epoch_us(ts) AS pt,
               CAST(round(value * 100.0) AS BIGINT) AS cents
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL),
      q82_t AS (
        SELECT user_id AS u, event_type AS ch, epoch_us(ts) AS tt
        FROM events
        WHERE event_type IN ('view', 'click') AND user_id IS NOT NULL),
      q82_j AS (
        SELECT c.pid, c.cents, t.ch, t.tt
        FROM q82_c c LEFT JOIN q82_t t
          ON t.u = c.u AND t.tt < c.pt
         AND t.tt >= c.pt - 172800000000),
      q82_k AS (
        SELECT pid, cents, ch,
               row_number() OVER (PARTITION BY pid
                 ORDER BY tt DESC NULLS LAST, ch ASC NULLS LAST) AS rn
        FROM q82_j),
      q82_w AS (
        SELECT pid, cents, ch,
               count(ch) OVER (PARTITION BY pid) AS tc
        FROM q82_k WHERE rn <= 100)
      SELECT coalesce(ch, 'direct') AS channel,
             cast(count(DISTINCT pid) AS BIGINT) AS conversions,
             cast(sum(CASE WHEN ch IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS touches,
             cast(sum(cents * 1000000 // greatest(tc, 1)) AS BIGINT)
               AS attributed_microcents
      FROM q82_w GROUP BY 1 ORDER BY channel"""))

  /** Exact two-sample KS test ([[graft.operators.Experiments.ksTest]]):
    * the distribution-shape guardrail next to q77's mean test — D and
    * its location from integer cross-products over the per-arm value
    * grids, one division at the end. */
  val q83_ks_test = QueryDef(
    "q83_ks_test",
    (s, dir) =>
      graft.operators.Experiments
        .ksTest(
          Tables(s, dir).events(fan = false) // keyed by event_type
            .filter(col("user_id").isNotNull)
            .select(
              col("event_type"),
              pmod(col("user_id"), lit(2L)).cast("int").as("arm"),
              round(col("value") * 100.0, 0).cast("long").as("cents")),
          "event_type", "arm", "cents")
        .orderBy(col("event_type")),
    Some("""
      WITH q83_b AS (
        SELECT event_type AS g, (user_id % 2)::INT AS a,
               CAST(round(value * 100.0) AS BIGINT) AS v
        FROM events WHERE user_id IS NOT NULL),
      q83_c AS (
        SELECT g, v,
               cast(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               cast(sum(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM q83_b GROUP BY 1, 2),
      q83_t AS (
        SELECT g, cast(sum(c0) AS BIGINT) AS n0,
               cast(sum(c1) AS BIGINT) AS n1
        FROM q83_c GROUP BY 1),
      q83_w AS (
        SELECT g, v,
               cast(sum(c0) OVER (PARTITION BY g ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum0,
               cast(sum(c1) OVER (PARTITION BY g ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1
        FROM q83_c),
      q83_d AS (
        SELECT w.g, n0, n1, v,
               abs(cum0 * n1 - cum1 * n0) AS d
        FROM q83_w w JOIN q83_t USING (g)),
      q83_m AS (SELECT g, n0, n1, max(d) AS md FROM q83_d GROUP BY 1, 2, 3),
      q83_at AS (
        SELECT d.g, min(v) AS ks_at
        FROM q83_d d JOIN q83_m m ON d.g = m.g AND d.d = m.md
        GROUP BY 1)
      SELECT m.g AS event_type, n0, n1,
             CASE WHEN n0 > 0 AND n1 > 0
               THEN round(md::DOUBLE / (n0::DOUBLE * n1::DOUBLE), 6)
             END AS ks_d,
             CASE WHEN n0 > 0 AND n1 > 0 THEN ks_at END AS ks_at
      FROM q83_m m JOIN q83_at a ON m.g = a.g
      ORDER BY event_type"""))

  /** Funnel time-to-convert ([[graft.operators.Funnel.funnelLags]]):
    * mean/median/p90 lag per adjacent step transition over the same
    * greedy chain as q79 — WHERE the funnel is slow, not just where it
    * leaks. The oracle replays the chain as the q79 join cascade and
    * the quantiles as quantile_cont (≡ Spark's exact percentile). */
  val q84_funnel_lags = QueryDef(
    "q84_funnel_lags",
    (s, dir) =>
      graft.operators.Funnel
        .funnelLags(
          Tables(s, dir).events.filter(col("user_id").isNotNull),
          "user_id", "event_type", "ts",
          Seq("signup", "view", "click", "purchase"))
        .orderBy(col("step")),
    Some("""
      WITH q84_e AS (
        SELECT user_id AS u, event_type AS et, epoch_us(ts) AS t
        FROM events WHERE user_id IS NOT NULL),
      q84_s1 AS (
        SELECT u, min(t) AS t1 FROM q84_e WHERE et = 'signup' GROUP BY 1),
      q84_s2 AS (
        SELECT e.u, min(t) AS t2 FROM q84_e e JOIN q84_s1 s ON e.u = s.u
        WHERE et = 'view' AND t > s.t1 GROUP BY 1),
      q84_s3 AS (
        SELECT e.u, min(t) AS t3 FROM q84_e e JOIN q84_s2 s ON e.u = s.u
        WHERE et = 'click' AND t > s.t2 GROUP BY 1),
      q84_s4 AS (
        SELECT e.u, min(t) AS t4 FROM q84_e e JOIN q84_s3 s ON e.u = s.u
        WHERE et = 'purchase' AND t > s.t3 GROUP BY 1),
      q84_l AS (
        SELECT 2 AS step, 'signup->view' AS transition, (t2 - t1) AS lag
        FROM q84_s2 JOIN q84_s1 USING (u)
        UNION ALL
        SELECT 3, 'view->click', (t3 - t2)
        FROM q84_s3 JOIN q84_s2 USING (u)
        UNION ALL
        SELECT 4, 'click->purchase', (t4 - t3)
        FROM q84_s4 JOIN q84_s3 USING (u))
      SELECT step, transition,
             cast(count(*) AS BIGINT) AS users,
             round(avg(lag) / 1000000.0, 6) AS avg_lag_s,
             round(quantile_cont(lag, 0.5) / 1000000.0, 6) AS p50_lag_s,
             round(quantile_cont(lag, 0.9) / 1000000.0, 6) AS p90_lag_s
      FROM q84_l GROUP BY 1, 2 ORDER BY step"""))

  /** Daily revenue trend per event type ([[graft.operators.TimeSeries
    * .dailyTrend]]): exact-moment OLS over the zero-filled day grid —
    * slope (cents/day), intercept, r². */
  val q85_daily_trend = QueryDef(
    "q85_daily_trend",
    (s, dir) =>
      graft.operators.TimeSeries
        .dailyTrend(
          Tables(s, dir).events.select(
            col("event_type"), col("ts"),
            round(col("value") * 100.0, 0).cast("long").as("cents")),
          "event_type", "ts", "cents")
        .orderBy(col("event_type")),
    Some("""
      WITH q85_dc AS (
        SELECT event_type AS k, epoch_us(ts) // 86400000000 AS d,
               cast(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      q85_bd AS (SELECT min(d) AS lo, max(d) AS hi FROM q85_dc),
      q85_g AS (
        SELECT ks.k, ii.i, coalesce(dc.y, 0) AS y
        FROM (SELECT DISTINCT k FROM q85_dc) ks
        CROSS JOIN (SELECT unnest(generate_series(
          0, (SELECT hi - lo FROM q85_bd))) AS i) ii
        LEFT JOIN (SELECT k, d - (SELECT lo FROM q85_bd) AS i, y
                   FROM q85_dc) dc
          ON dc.k = ks.k AND dc.i = ii.i),
      q85_m AS (
        SELECT k, cast(count(*) AS BIGINT) AS n,
               cast(sum(i) AS BIGINT) AS sx,
               cast(sum(y) AS BIGINT) AS sy,
               cast(sum(i * i) AS BIGINT) AS sxx,
               cast(sum(i * y) AS BIGINT) AS sxy,
               cast(sum(y * y) AS BIGINT) AS syy
        FROM q85_g GROUP BY 1)
      SELECT k AS event_type, n AS n_days,
             CASE WHEN (n * sxx - sx * sx)::DOUBLE > 0.0
               THEN round((n * sxy - sx * sy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE, 6) END AS slope,
             CASE WHEN (n * sxx - sx * sx)::DOUBLE > 0.0
               THEN round(sy::DOUBLE / n::DOUBLE
                 - ((n * sxy - sx * sy)::DOUBLE
                    / (n * sxx - sx * sx)::DOUBLE)
                   * (sx::DOUBLE / n::DOUBLE), 6) END AS intercept,
             CASE WHEN (n * sxx - sx * sx)::DOUBLE > 0.0
                    AND (n * syy - sy * sy)::DOUBLE > 0.0
               THEN round((n * sxy - sx * sy)::DOUBLE
                 * (n * sxy - sx * sy)::DOUBLE
                 / ((n * sxx - sx * sx)::DOUBLE
                    * (n * syy - sy * sy)::DOUBLE), 6) END AS r2
      FROM q85_m ORDER BY event_type"""))

  /** Market-basket rules ([[graft.operators.Aggregates
    * .associationRules]]): part pairs within orders scored by
    * support/confidence/lift — top 40 by lift with a support-5 floor. */
  val q86_basket_rules = QueryDef(
    "q86_basket_rules",
    (s, dir) =>
      graft.operators.Aggregates
        .associationRules(
          Tables(s, dir).lineitem.select(
            col("l_orderkey"), (col("l_partkey") % 500).as("part_bucket")),
          "l_orderkey", "part_bucket",
          minSupport = 5L, maxPerBasket = 16, topK = 40),
    Some("""
      WITH q86_bi AS (
        SELECT DISTINCT l_orderkey AS b, (l_partkey % 500) AS i
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      q86_c AS (
        SELECT b, i FROM (
          SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i) AS rn
          FROM q86_bi) WHERE rn <= 16),
      q86_n AS (SELECT cast(count(DISTINCT b) AS BIGINT) AS nb FROM q86_c),
      q86_it AS (SELECT i, cast(count(*) AS BIGINT) AS n FROM q86_c GROUP BY 1),
      q86_p AS (
        SELECT a.i AS item_a, b.i AS item_b,
               cast(count(*) AS BIGINT) AS pair_baskets
        FROM q86_c a JOIN q86_c b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT item_a, item_b, pair_baskets,
             round(pair_baskets::DOUBLE / nb::DOUBLE, 6) AS support,
             round(pair_baskets::DOUBLE / na.n::DOUBLE, 6) AS conf_a_to_b,
             round(pair_baskets::DOUBLE / nbi.n::DOUBLE, 6) AS conf_b_to_a,
             round(pair_baskets::DOUBLE * nb::DOUBLE
               / (na.n::DOUBLE * nbi.n::DOUBLE), 6) AS lift
      FROM q86_p
      JOIN q86_it na ON na.i = item_a
      JOIN q86_it nbi ON nbi.i = item_b
      CROSS JOIN q86_n
      ORDER BY lift DESC, item_a, item_b LIMIT 40"""))

  /** Session-scoped Markov transition matrix ([[graft.operators.Funnel
    * .transitionMatrix]]): the flow-analysis readout between q79's
    * fixed-steps funnel and q82's credit assignment — every ordered
    * (event_type → event_type) pair's within-session frequency, with
    * virtual `__start`/`__end` states so session entry and drop-off
    * distributions sit in the same row-stochastic table. Probabilities
    * quantize as count×10⁶ div row_total — exact integer division the
    * oracle replays bit-for-bit. One user-partitioned window pass +
    * one (from, to) keyed aggregation; row totals broadcast back over
    * a types-bounded relation. */
  val q87_markov_transitions = QueryDef(
    "q87_markov_transitions",
    (s, dir) =>
      graft.operators.Funnel
        .transitionMatrix(Tables(s, dir).events,
          "user_id", "event_type", "ts", "event_id", gapHours = 6L)
        .orderBy(col("from_state"), col("to_state")),
    Some("""
      WITH q87_e AS (
        SELECT user_id AS u, event_type AS e, epoch_us(ts) AS t,
               event_id AS id
        FROM events WHERE user_id IS NOT NULL),
      q87_m AS (
        SELECT u, e, t, id,
               CASE WHEN lag(t) OVER w IS NULL
                      OR t - lag(t) OVER w >= 21600000000 THEN 1 ELSE 0 END AS ns
        FROM q87_e WINDOW w AS (PARTITION BY u ORDER BY t, id)),
      q87_s AS (
        SELECT u, e, t, id,
               sum(ns) OVER (PARTITION BY u ORDER BY t, id
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM q87_m),
      q87_n AS (
        SELECT u, sid, e,
               lead(e) OVER ws AS nxt,
               row_number() OVER ws = 1 AS fst
        FROM q87_s WINDOW ws AS (PARTITION BY u, sid ORDER BY t, id)),
      q87_tr AS (
        SELECT e AS from_state, coalesce(nxt, '__end') AS to_state FROM q87_n
        UNION ALL
        SELECT '__start', e FROM q87_n WHERE fst),
      q87_c AS (
        SELECT from_state, to_state, cast(count(*) AS BIGINT) AS n
        FROM q87_tr GROUP BY 1, 2),
      q87_t AS (
        SELECT from_state, cast(sum(n) AS BIGINT) AS tot FROM q87_c GROUP BY 1)
      SELECT from_state, to_state, n,
             cast(n * 1000000 // tot AS BIGINT) AS p_q
      FROM q87_c JOIN q87_t USING (from_state)
      ORDER BY from_state, to_state"""))

  /** Top session paths ([[graft.operators.Funnel.topPaths]]): the
    * most frequent user journeys — each gap session rendered as its
    * first 5 event types `a>b>c`, longer sessions truncating with
    * `>…` so the path alphabet stays bounded; top 30 by session
    * count. Same single window pass as q87; the per-session render is
    * a sorted-struct collect (map-side partials, bounded by the
    * session's own events) and the top-k is TakeOrderedAndProject. */
  val q88_top_paths = QueryDef(
    "q88_top_paths",
    (s, dir) =>
      graft.operators.Funnel
        .topPaths(Tables(s, dir).events,
          "user_id", "event_type", "ts", "event_id",
          gapHours = 6L, maxLen = 5, k = 30),
    Some("""
      WITH q88_e AS (
        SELECT user_id AS u, event_type AS e, epoch_us(ts) AS t,
               event_id AS id
        FROM events WHERE user_id IS NOT NULL),
      q88_m AS (
        SELECT u, e, t, id,
               CASE WHEN lag(t) OVER w IS NULL
                      OR t - lag(t) OVER w >= 21600000000 THEN 1 ELSE 0 END AS ns
        FROM q88_e WINDOW w AS (PARTITION BY u ORDER BY t, id)),
      q88_s AS (
        SELECT u, e, t, id,
               sum(ns) OVER (PARTITION BY u ORDER BY t, id
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM q88_m),
      q88_p AS (
        SELECT u, sid, list(e ORDER BY t, id) AS evs
        FROM q88_s GROUP BY 1, 2),
      q88_r AS (
        SELECT array_to_string(evs[1:5], '>') ||
               CASE WHEN len(evs) > 5 THEN '>…' ELSE '' END AS path
        FROM q88_p)
      SELECT path, cast(count(*) AS BIGINT) AS sessions
      FROM q88_r GROUP BY 1
      ORDER BY sessions DESC, path ASC LIMIT 30"""))

  /** RFM segmentation ([[graft.operators.Aggregates.rfmSegments]]):
    * every purchasing user's recency/frequency/monetary quintile
    * scores and `rfm` segment label over the purchase stream — exact
    * rank quintiles (id tiebreak) against the corpus max timestamp,
    * so the oracle replays every score and the three global ranks run
    * as parallel range sorts (PrefixSumExec), never an unpartitioned
    * window. */
  val q89_rfm_segments = QueryDef(
    "q89_rfm_segments",
    (s, dir) =>
      graft.operators.Aggregates
        .rfmSegments(
          Tables(s, dir).events
            .filter(col("user_id").isNotNull &&
              col("event_type") === "purchase")
            .select(col("user_id"), col("ts"),
              round(col("value") * 100.0, 0).cast("long").as("cents")),
          "user_id", "ts", "cents")
        .orderBy(col("user_id")),
    Some("""
      WITH q89_e AS (
        SELECT user_id AS u, epoch_us(ts) AS t,
               CAST(round(value * 100.0) AS BIGINT) AS cents
        FROM events
        WHERE user_id IS NOT NULL AND event_type = 'purchase'),
      q89_u AS (
        SELECT u, cast(max(t) AS BIGINT) AS last_t,
               cast(count(*) AS BIGINT) AS f,
               cast(sum(cents) AS BIGINT) AS m
        FROM q89_e GROUP BY u),
      q89_g AS (SELECT max(last_t) AS gmax, cast(count(*) AS BIGINT) AS n
                FROM q89_u),
      q89_s AS (
        SELECT u, (gmax - last_t) // 86400000000 AS r_days, f, m,
               CAST(5 - (row_number() OVER (ORDER BY (gmax - last_t) // 86400000000 ASC, u ASC) - 1)
                 * 5 // n AS INT) AS r_score,
               CAST(5 - (row_number() OVER (ORDER BY f DESC, u ASC) - 1)
                 * 5 // n AS INT) AS f_score,
               CAST(5 - (row_number() OVER (ORDER BY m DESC, u ASC) - 1)
                 * 5 // n AS INT) AS m_score
        FROM q89_u CROSS JOIN q89_g)
      SELECT u AS user_id, cast(r_days AS BIGINT) AS r_days,
             f AS frequency, m AS monetary_cents,
             r_score, f_score, m_score,
             r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR
               AS segment
      FROM q89_s ORDER BY user_id"""))

  val all: Seq[QueryDef] = Seq(
    q01_agg_pricing, q02_filter_project, q03_join_inner, q04_join_left,
    q05_join_right, q06_join_full, q07_union, q08_melt, q09_topk,
    q10_argmax, q11_distinct, q12_window_running, q13_rollup, q14_na_fill,
    q15_semi_join, q16_anti_join, q17_join5_revenue, q18_pivot, q19_zip,
    q20_take_drop, q21_chunks, q22_stats_multi, q23_events_window,
    q24_json_extract, q25_cube, q26_intersect, q27_except,
    q34_explode, q35_rdel_mapmono, q36_session_window, q37_fold_typed,
    q38_asof_join, q40_interval_join, q41_percentiles, q42_window_suite,
    q43_stratified_sample, q44_count_distinct, q45_sql_revenue,
    q46_grouping_sets, q47_string_funcs, q48_array_agg,
    q49_subqueries, q50_date_funcs, q51_hll_distinct, q52_funnel,
    q53_salted_join, q54_cms_topk, q55_bloom_join, q56_zorder_key,
    q57_merge_upsert, q58_scd2, q59_resample_ffill, q60_fuzzy_join,
    q61_quantile_bins, q63_profile, q64_corr_matrix, q65_histogram,
    q67_range_window, q68_union_evolved, q69_asof_tolerance,
    q70_asof_nearest, q74_retention_cohorts, q75_mad_anomaly,
    q76_heavy_hitters, q77_ab_welch, q78_cuped, q79_funnel_steps,
    q80_pareto, q81_ewma_spikes, q82_attribution, q83_ks_test,
    q84_funnel_lags, q85_daily_trend, q86_basket_rules,
    q87_markov_transitions, q88_top_paths, q89_rfm_segments)
}
