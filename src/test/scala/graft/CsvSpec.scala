package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Categorical
import graft.schema.Inference
import graft.sources.Csv
import graft.sources.Csv.{NoQuoting, ParserOptions, RFC4180Quoting}

/** CSV front-door parity with the reference's own test corpus and
  * published golden values (acowley/Frames `test/Spec.hs`, README.org).
  * The small hand-written fixtures are repo-owned copies under
  * src/test/resources/frames (`fixture`); the real datasets (prestige*,
  * mpg, issue114, FL2) are read in place from /root/reference/test/data
  * and /root/reference/data, and their tests cancel where that data is
  * absent (`requireFile`, FIXTURES.md). The parse features those tests
  * check are also checked on small hand-made fixtures of the same shape,
  * which always run. */
class CsvSpec extends SparkSpec {

  private val data = "/root/reference/test/data"
  private val eps = 1e-6 // reference shouldBeWithinEpsilon, test/Spec.hs:98-104

  // ---------------- tokenizer ----------------

  test("tokenizer: RFC4180 doubled-quote reassembly (issue 114)") {
    // test/Issue114.hs:69-70 / test/data/issue114.csv facility_name
    val toks = Csv.tokenizeRow(
      "0,\"TIMBERLINE ENERGY INC\",\"LILLIAN B. SMITH, ET AL\",\"MUSSER, B W \"\"B\"\"\",x",
      ParserOptions())
    assert(toks == List(
      "0", "TIMBERLINE ENERGY INC", "LILLIAN B. SMITH, ET AL",
      "MUSSER, B W \"B\"", "x"))
  }

  test("tokenizer: unquoted tokens are stripped; NoQuoting splits verbatim") {
    assert(Csv.tokenizeRow(""" a ,"b ", c """, ParserOptions()) ==
      List("a", "b ", "c")) // quoted inner space preserved (CSV.hs:146)
    // a space BEFORE the quote means the part is not prefix-quoted: the
    // reference strips whitespace but keeps the quote chars (CSV.hs:117)
    assert(Csv.tokenizeRow(""" a , "b ", c """, ParserOptions()) ==
      List("a", "\"b \"", "c"))
    assert(Csv.tokenizeRow(""" a ,"b", c """, ParserOptions(quoting = NoQuoting)) ==
      List(" a ", "\"b\"", " c "))
  }

  // ---------------- inference through the file ----------------

  test("prestige.csv infers the reference schema (FIXTURES.md)") {
    val cols = Csv.inferSchema(requireFile(s"$data/prestige.csv"))
    val types = cols.map(c => c.name -> c.sparkType)
    assert(types == Seq(
      "_c0" -> StringType, "education" -> DoubleType, "income" -> LongType,
      "women" -> DoubleType, "prestige" -> DoubleType, "census" -> LongType,
      "type" -> StringType))
  }

  test("mpg.csv: drv ('f'/'4'/'r') must stay Text, not Bool/Int (test/Mpg.hs)") {
    val cols = Csv.inferSchema(requireFile(s"$data/mpg.csv"))
    val byName = cols.map(c => c.name -> c).toMap
    assert(byName("drv").colType == Inference.TText)
    assert(byName("displ").sparkType == DoubleType)
    assert(byName("year").sparkType == LongType)
    assert(byName("cyl").sparkType == LongType)
  }

  test("multiline.csv is rejected during inference (test/Spec.hs:212-220)") {
    val e = intercept[IllegalArgumentException] {
      Csv.inferSchema(fixture("multiline.csv"))
    }
    assert(e.getMessage.contains("columns"))
  }

  // ---------------- strict / maybe / debug ----------------

  test("readTable drops unparseable rows: prestigePartial 102 -> 98") {
    val df = Csv.readTable(spark, requireFile(s"$data/prestigePartial.csv"))
    assert(df.count() == 98)
    val full = Csv.readTable(spark, requireFile(s"$data/prestige.csv"))
    assert(full.count() == 102)
  }

  test("readTableMaybe golden: (4, 3344.5) on prestigePartial (test/Spec.hs:192-197)") {
    val df = Csv.readTableMaybe(spark, requireFile(s"$data/prestigePartial.csv"))
    val r = df.filter(col("prestige").isNull)
      .agg(count(lit(1)), avg(col("income")))
      .head()
    assert(r.getLong(0) == 4L)
    assert(math.abs(r.getDouble(1) - 3344.5) < eps)
  }

  test("readTableDebug: corrupt side channel names the failing columns") {
    val res = Csv.readTableDebug(spark, requireFile(s"$data/prestigePartial.csv"))
    assert(res.rows.count() == 98)
    val corrupt = res.corrupt.collect()
    assert(corrupt.length == 4)
    assert(corrupt.forall(r =>
      r.getSeq[String](r.fieldIndex("_failed_columns")) == Seq("prestige")))
  }

  test("rows after a missing cell are not truncated (test/Spec.hs:151-172)") {
    // NoTruncate-shaped inline fixture (test/examples.toml): a blank cell
    // must not end the stream — later rows still arrive.
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "noTruncate.csv")
    val w = new java.io.PrintWriter(f)
    w.write("id,foo\n1,10\n2,\n3,30\n4,40\n")
    w.close()
    val maybe = Csv.readTableMaybe(spark, f.getAbsolutePath)
    assert(maybe.count() == 4)
    val strict = Csv.readTable(spark, f.getAbsolutePath)
    assert(strict.count() == 3) // row 2 dropped, rows 3-4 kept
  }

  // ------- reference-data features on hand-made fixtures (FIXTURES.md) -------

  test("quoted mid-file field holding the separator and a doubled quote (issue114 shape)") {
    val path = fixture("quotedFields.csv")
    assert(Csv.inferSchema(path).map(c => c.name -> c.sparkType) == Seq(
      "id" -> LongType, "facility_name" -> StringType, "owner" -> StringType,
      "wells" -> LongType))
    for (df <- Seq(Csv.readTable(spark, path), Csv.readTableMaybe(spark, path))) {
      val rows = df.orderBy("id").collect()
      assert(rows.map(_.getString(1)).toSeq ==
        Seq("TIMBERLINE ENERGY INC", "MUSSER, B W \"B\"", "PLAIN NAME"))
      assert(rows.map(_.getString(2)).toSeq ==
        Seq("LILLIAN B. SMITH, ET AL", "BOYD", "O\"NEIL, PAT"))
      assert(rows.map(_.getLong(3)).sum == 15L)
    }
  }

  test("an empty header name is read as _c0 (prestige shape)") {
    val path = fixture("emptyHeader.csv")
    assert(Csv.inferSchema(path).map(c => c.name -> c.sparkType) == Seq(
      "_c0" -> StringType, "education" -> DoubleType, "income" -> LongType))
    val df = Csv.readTable(spark, path)
    assert(df.columns.toSeq == Seq("_c0", "education", "income"))
    assert(df.select(col("_c0")).collect().map(_.getString(0)).toSet ==
      Set("gov.administrators", "general.managers", "accountants"))
    assert(df.agg(sum(col("income"))).head().getLong(0) == 47501L)
  }

  test("NA and blank typed cells: strict reads drop the row, maybe reads keep null (prestigePartial shape)") {
    val path = fixture("partial.csv")
    val cols = Csv.inferSchema(path)
    assert(cols.map(c => c.name -> c.sparkType) == Seq(
      "job" -> StringType, "income" -> LongType, "prestige" -> DoubleType,
      "type" -> StringType))
    assert(cols(1).nullable && cols(2).nullable)

    val strict = Csv.readTable(spark, path).orderBy("job").collect()
    assert(strict.map(_.getString(0)).toSeq == Seq("a", "d"))
    assert(strict.map(_.getLong(1)).sum == 600L)

    val maybe = Csv.readTableMaybe(spark, path)
    assert(maybe.count() == 6)
    val r = maybe.filter(col("prestige").isNull).agg(count(lit(1)), avg(col("income"))).head()
    assert(r.getLong(0) == 4L)
    assert(math.abs(r.getDouble(1) - 300.0) < eps)
    val byJob = maybe.collect().map(row => row.getString(0) -> row).toMap
    assert(byJob("f").isNullAt(1))
    // NA is a missing marker for typed columns only; Text keeps the cell
    assert(byJob("b").getString(3) == "NA")
  }

  test("header override on a headerless file reads the first line as data (prestigeNoHeader shape)") {
    val df = Csv.readTable(
      spark, fixture("noHeader.csv"),
      ParserOptions(headerOverride = Some(Seq("Job", "Schooling", "Money"))))
    assert(df.schema.map(f => f.name -> f.dataType) == Seq(
      "Job" -> StringType, "Schooling" -> DoubleType, "Money" -> LongType))
    assert(df.count() == 3)
    assert(df.agg(sum(col("Money"))).head().getLong(0) == 47501L)
    // the same rows as emptyHeader.csv: the ratio is equal with and without header
    val noHeader = df.agg(avg(col("Money") / col("Schooling"))).head().getDouble(0)
    val withHeader = Csv.readTable(spark, fixture("emptyHeader.csv"))
      .agg(avg(col("income") / col("education"))).head().getDouble(0)
    assert(math.abs(noHeader - 1259.650661366581) < eps)
    assert(math.abs(withHeader - noHeader) < eps)
  }

  test("readTableDebug: _failed_columns names each dropped row's failing columns") {
    val res = Csv.readTableDebug(spark, fixture("partial.csv"))
    assert(res.rows.orderBy("job").collect().map(_.getString(0)).toSeq == Seq("a", "d"))
    val failed = res.corrupt.collect().map(r =>
      r.getString(r.fieldIndex("job")) -> r.getSeq[String](r.fieldIndex("_failed_columns"))).toMap
    assert(failed == Map(
      "b" -> Seq("prestige"), "c" -> Seq("prestige"), "e" -> Seq("prestige"),
      "f" -> Seq("income", "prestige")))
  }

  // ---------------- parse quirks through the reader ----------------

  test("managers.csv: '80,000' -> 80000.0 through the full read (round-trip fixture)") {
    val df = Csv.readTable(spark, fixture("managers.csv"))
    assert(df.schema("pay").dataType == DoubleType)
    assert(df.select(sum(col("pay"))).head().getDouble(0) == 160000.0)
  }

  test("header override: avg ratio equal with and without header (test/Spec.hs:188-191)") {
    val withHeader = Csv.readTable(spark, requireFile(s"$data/prestige.csv"))
      .agg(avg(col("income") / col("prestige"))).head().getDouble(0)
    val noHeader = Csv.readTable(
        spark, requireFile(s"$data/prestigeNoHeader.csv"),
        ParserOptions(headerOverride = Some(Seq(
          "Job", "Schooling", "Money", "Females", "Respect", "Census", "Category"))))
      .agg(avg(col("Money") / col("Respect"))).head().getDouble(0)
    assert(math.abs(withHeader - noHeader) < eps)
  }

  test("Latin-1 encoding: João / Esperança (test/LatinTest.hs:26-33)") {
    val df = Csv.readTable(
      spark, fixture("latinManagers.csv"),
      ParserOptions(encoding = "ISO-8859-1"))
    val names = df.select(col("manager")).collect().map(_.getString(0)).toSet
    assert(names == Set("João", "Esperança"))
  }

  test("issue114: embedded quotes and commas survive the distributed read") {
    val df = Csv.readTableMaybe(spark, requireFile(s"$data/issue114.csv"))
    val names = df.select(col("facility_name")).collect().map(_.getString(0)).toSet
    assert(names.contains("MUSSER, B W \"B\""))
  }

  // ---------------- write -> read round trip ----------------

  test("write->read round trip preserves values, canonicalizing '80,000' (test/Spec.hs:118-146)") {
    val cols = Csv.inferSchema(fixture("managers.csv"))
    val orig = Csv.readTable(spark, fixture("managers.csv"))
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_rt").toFile
    val out = new java.io.File(dir, "managers_out").getAbsolutePath
    Csv.writeCsv(orig, out, singleFile = true)
    // re-read with the KNOWN types, as the reference round trip does
    // (the written "80000.0" would re-infer Int via the intish rule)
    val back = Csv.readTableWith(spark, out, cols)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      orig.schema.map(f => (f.name, f.dataType)))
    val a = orig.orderBy("id").collect().map(_.toSeq)
    val b = back.orderBy("id").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("writer value rendering pinned byte-wise vs the reference's ShowCSV") {
    import spark.implicits._
    val df = Seq(
      (1L, true, 3344.5, 0.01, "plain"),
      (2L, false, 80000.0, 100.0, "has, comma"))
      .toDF("id", "b", "d1", "d2", "t")
      .orderBy("id").coalesce(1)
    def written(referenceStyle: Boolean): Seq[String] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_csv_golden").toFile
      val out = new java.io.File(dir, "g").getAbsolutePath
      Csv.writeCsv(df, out, singleFile = true, referenceStyle = referenceStyle)
      val part = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-")).head
      scala.jdk.CollectionConverters
        .ListHasAsScala(java.nio.file.Files.readAllLines(part.toPath)).asScala.toSeq
    }
    // referenceStyle: Bool renders True/False as ShowCSV's Haskell show
    // (ShowCSV.hs:13). Pinned divergences: d2=0.01 stays Java-canonical
    // ("0.01", Haskell show would be "1.0e-2"); text with the separator
    // is RFC4180-quoted (the reference's showCSV = id writes it raw,
    // which would not re-parse).
    assert(written(referenceStyle = true) == Seq(
      "id,b,d1,d2,t",
      "1,True,3344.5,0.01,plain",
      "2,False,80000.0,100.0,\"has, comma\""))
    // default style: Spark-native lowercase booleans
    assert(written(referenceStyle = false) == Seq(
      "id,b,d1,d2,t",
      "1,true,3344.5,0.01,plain",
      "2,false,80000.0,100.0,\"has, comma\""))
  }

  test("inferSchemaDistributed: a later file widening a column is sampled, strict read drops nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_drift").toFile
    // file 1: x looks Int for its whole prefix; file 2 drifts to Double
    java.nio.file.Files.writeString(
      new java.io.File(dir, "part-0000.csv").toPath,
      "id,x\n1,10\n2,20\n")
    java.nio.file.Files.writeString(
      new java.io.File(dir, "part-0001.csv").toPath,
      "id,x\n3,30.5\n4,40\n")
    val path = dir.getAbsolutePath
    // single-file (reference-faithful) inference sees only file 1 -> Int,
    // and the strict reader silently drops the drifted row — the trap
    val narrow = Csv.inferSchema(path)
    assert(narrow.find(_.name == "x").get.sparkType ==
      org.apache.spark.sql.types.LongType)
    assert(Csv.readTableWith(spark, path, narrow).count() == 3)
    // sampled multi-file inference folds both prefixes -> Double; strict
    // read keeps all four rows
    val wide = Csv.inferSchemaDistributed(spark, path)
    assert(wide.find(_.name == "x").get.sparkType ==
      org.apache.spark.sql.types.DoubleType)
    val full = Csv.readTableWith(spark, path, wide)
    assert(full.count() == 4)
    assert(full.agg(org.apache.spark.sql.functions.sum("x")).collect()(0).getDouble(0)
      == 100.5)
  }

  test("inferSchemaDistributed: column-count drift in a sampled file is a hard error") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_cols").toFile
    java.nio.file.Files.writeString(
      new java.io.File(dir, "a.csv").toPath, "id,x\n1,10\n")
    java.nio.file.Files.writeString(
      new java.io.File(dir, "b.csv").toPath, "id,x,y\n2,20,30\n")
    intercept[IllegalArgumentException] {
      Csv.inferSchemaDistributed(spark, dir.getAbsolutePath)
    }
  }

  test("write->read round trip preserves embedded quotes, commas, newline-free text") {
    import spark.implicits._
    val orig = Seq(
      (1L, """MUSSER, B W "B""""),
      (2L, """say "hi", twice"""),
      (3L, "plain")).toDF("id", "name")
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_q").toFile
    val out = new java.io.File(dir, "quoted_out").getAbsolutePath
    Csv.writeCsv(orig, out, singleFile = true)
    val back = spark.read
      .schema(orig.schema)
      .option("header", true).option("quote", "\"").option("escape", "\"")
      .csv(out)
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("""MUSSER, B W "B"""", """say "hi", twice""", "plain"))
  }

  // ---------------- categorical ----------------

  test("categorical: catSmall <= 8 distinct -> dictionary + codes; catLarge > 8 -> none") {
    val small = Csv.readTable(spark, fixture("catSmall.csv"))
    assert(Categorical.categoriesOf(small, "month").contains(
      Seq("April", "February", "January", "March", "May")))
    val coded = Categorical.encode(small, "month")
      .orderBy("id").collect().map(r => r.getInt(r.fieldIndex("month_code")))
    assert(coded sameElements Array(2, 1, 3, 0, 4)) // Jan,Feb,Mar,Apr,May sorted codes
    val large = Csv.readTable(spark, fixture("catLarge.csv"))
    assert(Categorical.categoriesOf(large, "month").isEmpty)
    // decode inverts encode
    val dict = Categorical.categoriesOf(small, "month").get
    val roundTrip = Categorical.encode(small, "month")
      .withColumn("back", Categorical.decodeExpr(col("month_code"), dict))
      .filter(col("back") =!= col("month"))
    assert(roundTrip.count() == 0)
  }

  test("issue145: spaces in header and categorical variants survive intact") {
    // the reference sanitizes "category name" / "foo category" into
    // Haskell identifiers (test/Issue145.hs + rowGenCat); here values
    // and names are data, so both must pass through UNCHANGED
    val df = Csv.readTable(spark, fixture("issue145.csv"))
    assert(df.columns.toSeq == Seq("id", "category name"))
    val dict = Categorical.categoriesOf(df, "category name")
    assert(dict.exists(_.forall(_.contains(" "))), dict.toString)
    val coded = Categorical.encode(df, "category name")
    assert(coded.columns.contains("category name_code"))
    assert(coded.filter(col("`category name_code`") < 0).count() == 0)
  }

  // ---------------- FL2 published golden ----------------

  test("FL2 means match the reference's published values (README.org:68-69)") {
    // prefix 2500 exactly as the reference benchmark needs for this file
    // (benchmarks/BenchDemo.hs:22: fl_site_deductible turns Double at
    // data row 2439, past the default 1000-row prefix)
    val r = Csv.readTable(
        spark, requireFile("/root/reference/data/FL2.csv"),
        ParserOptions(inferencePrefix = 2500))
      .agg(avg(col("point_latitude")), avg(col("point_longitude")))
      .head()
    assert(math.abs(r.getDouble(0) - 28.087476512228815) < eps)
    assert(math.abs(r.getDouble(1) - -81.90356506136422) < eps)
  }

  // ---------------- custom cell types (TimeIn demo) ----------------

  test("custom timestamp cell type: inferred, parsed, lattice-safe") {
    val path = "/tmp/graft_test_custom_ts.csv"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path),
      """id,ts,mixed
        |1,2024-01-01 10:30:00,2024-01-01 10:30:00
        |2,2024-02-03 04:05:06,not-a-time
        |3,NA,2024-03-04 05:06:07
        |""".stripMargin)
    val opts = ParserOptions(customTypes = Seq(Csv.timestampCell))
    val cols = Csv.inferSchema(path, opts)
    // pure ts column -> TimestampType (nullable: has a missing cell)
    assert(cols(1).sparkType == org.apache.spark.sql.types.TimestampType)
    assert(cols(1).nullable)
    // mixed custom+text -> falls back to Text (custom joins only itself)
    assert(cols(2).sparkType == org.apache.spark.sql.types.StringType)

    // maybe read: all rows survive, missing ts is null
    val maybe = Csv.readTableMaybe(spark, path, opts).orderBy("id").collect()
    assert(maybe.length == 3)
    assert(maybe(0).getTimestamp(1).toString == "2024-01-01 10:30:00.0")
    assert(maybe(2).isNullAt(1))
    // strict read: the missing-ts row is dropped
    assert(Csv.readTable(spark, path, opts).count() == 2)
  }

  test("timestampInZoneCell stores UTC for a zoned local time (timeIn)") {
    val path = "/tmp/graft_test_zoned_ts.csv"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path),
      """when
        |2024-06-01 12:00:00
        |""".stripMargin)
    val got = Csv.readTable(
        spark, path,
        ParserOptions(customTypes = Seq(Csv.timestampInZoneCell("America/Chicago"))))
      .head().getTimestamp(0)
    // noon CDT (UTC-5) == 17:00 UTC; session TZ is UTC
    assert(got.toString == "2024-06-01 17:00:00.0")
  }

  // ---------------- chunk golden ----------------

  test("frameChunks golden: first education per 10-row chunk (test/Spec.hs:221-228)") {
    val expected =
      Seq(13.11, 12.39, 15.97, 12.79, 12.09, 11.13, 8.5, 7.64, 8.78, 6.92, 10.0)
    // file order via a read-order index (single small file -> one input
    // partition; order-sensitive by documented design, like Frame.zip)
    val df = Csv.readTable(spark, requireFile(s"$data/prestige.csv"))
      .coalesce(1)
      .withColumn("__idx", monotonically_increasing_id())
    val firsts = Frame(df)
      .chunkIds(10, Seq(col("__idx")))
      .df
      .groupBy(col("chunk"))
      .agg(min_by(col("education"), col("__idx")).as("education"))
      .orderBy(col("chunk"))
      .collect()
      .map(_.getDouble(1))
      .toSeq
    assert(firsts == expected)
  }
}
