package graft

/** Smoke + value checks for every SparkEntry query at sf0.001. The heavy
  * value verification is the driver's DuckDB hash-compare at sf0.01 (all
  * oracle-bearing queries were validated against DuckDB locally via
  * tools/compare_oracle.py); here we pin structural invariants so
  * regressions surface in `sbt test`. */
class QueriesSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and yields a stable schema") {
    forQueriesWithInputs(SparkEntry.allQueries)(_.foreach { q =>
      val df = q.run(spark, sf0001)
      val n = df.count()
      assert(n >= 0, s"${q.name} failed to run")
      assert(df.columns.nonEmpty, s"${q.name} has no columns")
      assert(
        df.columns.map(_.toLowerCase).distinct.length == df.columns.length,
        s"${q.name} has duplicate column names")
    })
  }

  test("q01 groups cover every filtered lineitem row exactly once") {
    val rows = SparkEntry.queries("q01_agg_pricing")(spark, sf0001).collect()
    assert(rows.length == 6)
    val totalCount = rows.map(_.getAs[Long]("count_order")).sum
    val expected = Tables(spark, sf0001).lineitem
      .filter(org.apache.spark.sql.functions.expr(
        "l_shipdate <= timestamp'2000-01-01 00:00:00'"))
      .count()
    assert(totalCount == expected)
  }

  test("q11 distinct returns exactly the flag x status combinations") {
    val rows = SparkEntry.queries("q11_distinct")(spark, sf0001).collect()
    val got = rows.map(r => (r.getString(0), r.getString(1))).toSet
    // the exact sf0.001 combination set, computed independently
    val expected = Tables(spark, sf0001).lineitem
      .select("l_returnflag", "l_linestatus").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected && rows.length == expected.size)
  }

  test("q19 zip truncates to the shorter side (10 suppliers at sf0.001)") {
    assert(SparkEntry.queries("q19_zip")(spark, sf0001).count() == 10)
  }

  test("q20 take/drop returns exactly 50 rows after offset 100") {
    assert(SparkEntry.queries("q20_take_drop")(spark, sf0001).count() == 50)
  }

  test("s01 knn returns k=5 neighbors for each of 10 queries, ranked") {
    val rows = SparkEntry.queries("s01_knn_brute")(spark, sf0001).collect()
    assert(rows.length == 50)
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 10)
    byQuery.values.foreach { g =>
      assert(g.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5))
      val cosines = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
  }

  test("text_stats equals the regex formulations it replaced") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val samples = Seq(
      "The quick brown fox 42 jumps.",
      "  leading and trailing  ",
      "",
      "tabs\tand\nnewlines\r\nhere",
      "unicode: café über straße 中文 123",
      "a",
      "    ",
      "12345 67890").toDF("t")
    val got = samples.select(
      col("t"),
      graft.functions.expressions.TextStats(col("t")).as("s"),
      length(col("t")).as("len_ref"),
      (length(col("t")) - length(regexp_replace(col("t"), "[A-Za-z]", ""))).as("alpha_ref"),
      (length(col("t")) - length(regexp_replace(col("t"), "[0-9]", ""))).as("digit_ref"),
      (length(col("t")) - length(regexp_replace(col("t"), "\\s", ""))).as("ws_ref"),
      size(filter(split(col("t"), "\\s+"), x => x =!= "")).as("tok_ref"))
      .collect()
    got.foreach { r =>
      val s = r.getStruct(1)
      assert(s.getAs[Long]("n_chars") == r.getAs[Int]("len_ref").toLong, r.getString(0))
      assert(s.getAs[Long]("n_alpha") == r.getAs[Int]("alpha_ref").toLong, r.getString(0))
      assert(s.getAs[Long]("n_digit") == r.getAs[Int]("digit_ref").toLong, r.getString(0))
      assert(s.getAs[Long]("n_ws") == r.getAs[Int]("ws_ref").toLong, r.getString(0))
      assert(s.getAs[Long]("n_tokens") == r.getAs[Int]("tok_ref").toLong, r.getString(0))
    }
  }

  test("native parse kernels equal the regex formulations they replaced") {
    import org.apache.spark.sql.functions._
    import graft.functions.Parsing
    import spark.implicits._
    val cells = Seq(
      "5", "5.0", "5.00", "+7", "-12.0", " 42 ", "007",
      "80,000", "80,000.5", "3.14", ".5", "5.", "-.25", "1e3", "2.5E-2", "+1e+2",
      "true", "FALSE", "True", " false ",
      "", "NA", "abc", "1.2.3", "e5", ".", "+", "-", "1,2,3", "12a", "a12",
      "9223372036854775807").toDF("c")
    val got = cells.select(
      col("c"),
      Parsing.parseIntish(col("c")).as("i"),
      Parsing.parseDouble(col("c")).as("d"),
      Parsing.parseBool(col("c")).as("b"),
      // the original regex formulations, inline
      when(trim(col("c")).rlike(Parsing.IntishRe),
        regexp_replace(trim(col("c")), "\\.0$", "").cast("long")).as("iRef"),
      when(regexp_replace(trim(col("c")), ",", "").rlike(Parsing.DoubleRe),
        regexp_replace(trim(col("c")), ",", "").cast("double")).as("dRef"),
      when(trim(col("c")).rlike(Parsing.BoolRe),
        lower(trim(col("c"))) === "true").as("bRef"))
      .collect()
    got.foreach { r =>
      val cell = r.getString(0)
      assert(r.get(1) == r.get(4), s"intish '$cell'")
      assert(r.get(2) == r.get(5), s"double '$cell'")
      assert(r.get(3) == r.get(6), s"bool '$cell'")
    }
    // overflow: native yields null where the regex+ANSI-cast pipeline
    // would error the whole job
    val over = Seq("9223372036854775808").toDF("c")
      .select(Parsing.parseIntish(col("c"))).head()
    assert(over.isNullAt(0))
  }

  test("t04 fingerprints are deterministic across runs") {
    val a = SparkEntry.queries("t04_fingerprint")(spark, sf0001).collect()
    val b = SparkEntry.queries("t04_fingerprint")(spark, sf0001).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }
}
