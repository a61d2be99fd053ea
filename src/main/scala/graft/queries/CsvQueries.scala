package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Categorical
import graft.sources.{Csv, Jsonl}
import graft.sources.Csv.ParserOptions

/** CSV front-door coverage (SURVEY §2.1): strict / maybe reads, header
  * override, comma-double + intish parse quirks, categorical encoding —
  * each oracle re-reads the SAME file in DuckDB (`read_csv` all_varchar)
  * and replicates the reference parse semantics in portable SQL, so the
  * hash compare exercises tokenizer + inference + cast plan end-to-end.
  *
  * Most fixture files are the reference's own test corpus (read-only, at
  * /root/reference/test/data — FIXTURES.md), the source of the published
  * golden values these queries anchor to. That corpus is not part of this
  * repository; [[externalInputs]] names each query that reads it. The
  * repository holds its own copies of two small fixtures (`managers.csv`,
  * `catSmall.csv`, resources under `frames/`), which q30 and q32 read.
  */
object CsvQueries {

  private val refData = "/root/reference/test/data"
  private val fl2Csv = "/root/reference/data/FL2.csv"

  /** The input each query reads from outside this repository, by query
    * name. These queries cannot run where that file is absent. */
  val externalInputs: Map[String, String] = Map(
    "q28_csv_strict" -> s"$refData/prestigePartial.csv",
    "q29_csv_maybe" -> s"$refData/prestigePartial.csv",
    "q31_csv_noheader" -> s"$refData/prestigeNoHeader.csv",
    "q33_csv_fl2_means" -> fl2Csv)

  private def fixturePath(name: String): String = s"/tmp/graft_fixture_$name"

  /** Copies the repo-owned fixture `frames/<name>` from the class path to
    * [[fixturePath]], which the DuckDB oracle reads. */
  private def resourceFixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/frames/$name")
    try java.nio.file.Files.copy(in, java.nio.file.Paths.get(fixturePath(name)),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    fixturePath(name)
  }

  /** DuckDB-side replicas of the reference parse semantics
    * (ColumnTypeable.hs:61-80), matching graft.functions.Parsing. */
  private def sqlIntOk(c: String) =
    s"regexp_matches(trim($c), '^[+-]?\\d+(\\.0)?$$')"
  private def sqlInt(c: String) =
    s"cast(regexp_replace(trim($c), '\\.0$$', '') as bigint)"
  private def sqlDoubleOk(c: String) =
    s"regexp_matches(replace(trim($c), ',', ''), '^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$$')"
  private def sqlDouble(c: String) =
    s"cast(replace(trim($c), ',', '') as double)"

  private val prestigeNames =
    Seq("_c0", "education", "income", "women", "prestige", "census", "type")
  private val prestigeNamesSql = prestigeNames.map(n => s"'$n'").mkString(", ")

  /** Strict read of prestigePartial.csv: the 4 rows with a blank
    * `prestige` cell are silently dropped (readTable semantics,
    * CSV.hs:364-387; fixture per test/UncurryFoldPartialData.hs). */
  val q28_csv_strict = QueryDef(
    "q28_csv_strict",
    (s, _) =>
      Csv.readTable(s, s"$refData/prestigePartial.csv")
        .orderBy(col("_c0")),
    Some(s"""
      SELECT _c0, ${sqlDouble("education")} AS education,
             ${sqlInt("income")} AS income, ${sqlDouble("women")} AS women,
             ${sqlDouble("prestige")} AS prestige, ${sqlInt("census")} AS census, type
      FROM read_csv('$refData/prestigePartial.csv', header=true,
                    names=[$prestigeNamesSql], all_varchar=true)
      WHERE ${sqlDoubleOk("education")} AND ${sqlIntOk("income")}
        AND ${sqlDoubleOk("women")} AND ${sqlDoubleOk("prestige")}
        AND ${sqlIntOk("census")}
      ORDER BY _c0"""))

  /** Maybe read + the reference numeric golden: rows where `prestige`
    * failed to parse -> (count=4, avg income=3344.5)
    * (test/UncurryFoldPartialData.hs:23-30, test/Spec.hs:192-197). */
  val q29_csv_maybe = QueryDef(
    "q29_csv_maybe",
    (s, _) =>
      Csv.readTableMaybe(s, s"$refData/prestigePartial.csv")
        .filter(col("prestige").isNull)
        .agg(
          count(lit(1)).as("n"),
          avg(col("income")).as("avg_income")),
    Some(s"""
      SELECT count(*) AS n, avg(${sqlInt("income")}) AS avg_income
      FROM read_csv('$refData/prestigePartial.csv', header=true,
                    names=[$prestigeNamesSql], all_varchar=true)
      WHERE NOT coalesce(${sqlDoubleOk("prestige")}, false)"""))

  /** managers.csv: quoted comma-grouped doubles ("80,000" -> 80000.0,
    * ColumnTypeable.hs:77-80) through the full reader. */
  val q30_csv_managers = QueryDef(
    "q30_csv_managers",
    (s, _) =>
      Csv.readTable(s, resourceFixture("managers.csv"))
        .orderBy(col("id")),
    Some(s"""
      SELECT ${sqlInt("id")} AS id, manager, ${sqlInt("age")} AS age,
             ${sqlDouble("pay")} AS pay
      FROM read_csv('${fixturePath("managers.csv")}', header=true,
                    names=['id','manager','age','pay'], all_varchar=true)
      WHERE ${sqlIntOk("id")} AND ${sqlIntOk("age")} AND ${sqlDoubleOk("pay")}
      ORDER BY id"""))

  /** Header override on a headerless file (test/NoHeader.hs:15-34): the
    * first line is data, user-supplied names; avg(Money/Respect) must
    * equal the with-header value (test/Spec.hs:188-191). */
  val q31_csv_noheader = QueryDef(
    "q31_csv_noheader",
    (s, _) =>
      Csv.readTable(
          s, s"$refData/prestigeNoHeader.csv",
          ParserOptions(headerOverride = Some(Seq(
            "Job", "Schooling", "Money", "Females", "Respect", "Census", "Category"))))
        .agg(round(avg(col("Money") / col("Respect")), 6).as("avg_ratio")),
    Some(s"""
      SELECT round(avg(${sqlInt("Money")} * 1.0 / ${sqlDouble("Respect")}), 6) AS avg_ratio
      FROM read_csv('$refData/prestigeNoHeader.csv', header=false,
                    names=['Job','Schooling','Money','Females','Respect','Census','Category'],
                    all_varchar=true)
      WHERE ${sqlIntOk("Money")} AND ${sqlDoubleOk("Respect")}
        AND ${sqlDoubleOk("Schooling")} AND ${sqlDoubleOk("Females")}
        AND ${sqlIntOk("Census")}"""))

  /** Categorical end-to-end (test/Categorical.hs:20-31): catSmall's month
    * column (5 distinct <= 8) is inferred categorical; encode to dense
    * codes over the sorted dictionary. */
  val q32_csv_categorical = QueryDef(
    "q32_csv_categorical",
    (s, _) => {
      val df = Csv.readTable(s, resourceFixture("catSmall.csv"))
      Categorical.encode(df, "month")
        .select(col("id"), col("month"), col("month_code"))
        .orderBy(col("id"))
    },
    Some(s"""
      SELECT ${sqlInt("id")} AS id, month,
             CASE month WHEN 'April' THEN 0 WHEN 'February' THEN 1
                        WHEN 'January' THEN 2 WHEN 'March' THEN 3
                        WHEN 'May' THEN 4 END AS month_code
      FROM read_csv('${fixturePath("catSmall.csv")}', header=true,
                    names=['id','month'], all_varchar=true)
      WHERE ${sqlIntOk("id")}
      ORDER BY id"""))

  /** FL2 benchmark scan (36,634 rows): the reference's published
    * correctness anchor — mean lat 28.087476512228815, mean lon
    * -81.90356506136422 (README.org:68-69; BASELINE.md). Inference
    * prefix 2500 exactly as the reference benchmark sets it
    * (benchmarks/BenchDemo.hs:22 — a Double appears at data row 2439). */
  val q33_csv_fl2_means = QueryDef(
    "q33_csv_fl2_means",
    (s, _) =>
      Csv.readTable(
          s, fl2Csv,
          ParserOptions(inferencePrefix = 2500))
        .agg(
          round(avg(col("point_latitude")), 9).as("mean_lat"),
          round(avg(col("point_longitude")), 9).as("mean_lon")),
    Some(s"""
      SELECT round(avg(point_latitude), 9) AS mean_lat,
             round(avg(point_longitude), 9) AS mean_lon
      FROM read_csv('$fl2Csv', header=true)"""))

  private val timestampFixturePath = "/tmp/graft_fixture_timestamps.csv"

  /** Custom cell type through the inference lattice (the reference's
    * Parseable-instance extension point + TimeIn demo,
    * `demo/TimeZones/src/TimeIn.hs`): a `%F %T` timestamp column is
    * inferred as Timestamp and parsed with a null-on-failure cast;
    * readTableMaybe keeps rows with missing cells as nulls. The fixture
    * is written deterministically so the DuckDB oracle reads the SAME
    * file. */
  val q39_csv_timestamp = QueryDef(
    "q39_csv_timestamp",
    (s, _) => {
      writeTimestampFixture()
      Csv.readTableMaybe(
          s, timestampFixturePath,
          ParserOptions(customTypes = Seq(Csv.timestampCell)))
        .orderBy(col("id"))
    },
    Some(s"""
      SELECT cast(id as bigint) AS id,
             CASE WHEN regexp_matches(trim(ts), '^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$$')
                  THEN strptime(trim(ts), '%Y-%m-%d %H:%M:%S') END AS ts,
             CASE WHEN ${sqlDoubleOk("v")} THEN ${sqlDouble("v")} END AS v
      FROM read_csv('$timestampFixturePath', header=true,
                    names=['id','ts','v'], all_varchar=true)
      ORDER BY id"""))

  private def writeTimestampFixture(): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(timestampFixturePath),
      """id,ts,v
        |1,2024-01-01 10:30:00,3.5
        |2,2024-02-03 04:05:06,7.25
        |3,NA,1.0
        |4,2024-12-31 23:59:59,NA
        |""".stripMargin)

  private val multiFileFixtureDir = "/tmp/graft_fixture_multifile"

  /** Two deterministic CSV shards: file 0's `x` column is integral for
    * its whole prefix; file 1 drifts to fractional on every 7th id —
    * the multi-file type-drift shape [[Csv.inferSchemaDistributed]]
    * exists to catch. */
  private def writeMultiFileFixture(): Unit = {
    val dir = new java.io.File(multiFileFixtureDir)
    dir.mkdirs()
    def rows(ids: Range, drift: Boolean): String =
      ids.map { i =>
        val x = if (drift && i % 7 == 0) s"$i.5" else s"$i"
        s"$i,$x,${Seq("red", "green", "blue")(i % 3)}"
      }.mkString("\n")
    java.nio.file.Files.writeString(
      dir.toPath.resolve("part-0000.csv"), "id,x,lab\n" + rows(1 to 50, drift = false) + "\n")
    java.nio.file.Files.writeString(
      dir.toPath.resolve("part-0001.csv"), "id,x,lab\n" + rows(51 to 100, drift = true) + "\n")
  }

  /** Sampled multi-file schema inference, oracle-backed: the second
    * shard widens `x` to Double, so the single-file (reference-default)
    * inference would type it Int and the strict reader would silently
    * drop every drifted row. [[Csv.inferSchemaDistributed]] samples
    * both shards, the lattice widens, and the strict read keeps all
    * 100 rows — hash-compared against DuckDB reading the same files
    * with the widened types. */
  val q71_csv_multifile = QueryDef(
    "q71_csv_multifile",
    (s, _) => {
      writeMultiFileFixture()
      val cols = Csv.inferSchemaDistributed(s, multiFileFixtureDir)
      Csv.readTableWith(s, multiFileFixtureDir, cols)
        .groupBy(col("lab"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sum_x"),
          min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
        .orderBy(col("lab"))
    },
    Some(s"""
      SELECT lab, count(*) AS n, sum(x) AS sum_x,
             min(id) AS min_id, max(id) AS max_id
      FROM read_csv('$multiFileFixtureDir/part-*.csv', header=true,
                    columns={'id': 'BIGINT', 'x': 'DOUBLE', 'lab': 'VARCHAR'})
      GROUP BY lab ORDER BY lab"""))

  /** Round-trip scratch directory under java.io.tmpdir, pid-suffixed so
    * concurrent harness runs over the same sfDir cannot clobber each
    * other mid-read, and registered ONCE for recursive deletion at JVM
    * exit — without the hook every harness run leaked a full copy of the
    * documents table into /tmp, accumulating across rounds. */
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def scratchDir(kind: String, dir: String): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_" +
      s"${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current().pid()}"
    if (cleanupRegistered.add(path)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(path))
      }))
    }
    path
  }

  /** JSONL round trip ([[graft.sources.Jsonl]]): the documents table is
    * written as JSON-Lines shards and strict-read back with its explicit
    * schema; the per-(lang, source) stats — including min/max/summed
    * lengths of the text payload itself — are computed from the
    * ROUND-TRIPPED data while the oracle computes them from the original
    * parquet, so any escaping or type mangling in either direction
    * breaks the hash compare. */
  val q62_jsonl_io = QueryDef(
    "q62_jsonl_io",
    (s, dir) => {
      val docs = graft.Tables(s, dir).documents
      val tmp = scratchDir("jsonl", dir)
      Jsonl.writeJsonl(docs, tmp)
      Jsonl.readJsonl(s, tmp, docs.schema)
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_len"),
          min(col("text")).as("min_text"),
          max(col("text")).as("max_text"))
        .orderBy(col("lang"), col("source"))
    },
    Some("""
      SELECT lang, source, count(*) AS n,
             cast(sum(n_chars) as bigint) AS sum_chars,
             cast(sum(length(text)) as bigint) AS sum_len,
             min(text) AS min_text, max(text) AS max_text
      FROM documents GROUP BY lang, source ORDER BY lang, source"""))

  /** Hive-partitioned layout round trip ([[graft.operators.Layout
    * .writePartitioned]]): documents written one directory per (lang,
    * source), read back through the partition-pruned path with a lang
    * filter — planning-time directory pruning, zero I/O for other
    * langs (LayoutSpec asserts the PartitionFilters plan shape). Stats
    * computed from the ROUND-TRIPPED data; the oracle reads the
    * original parquet, so any value/type mangling through the
    * partition encoding breaks the hash. */
  val q66_partitioned_io = QueryDef(
    "q66_partitioned_io",
    (s, dir) => {
      val docs = graft.Tables(s, dir).documents
      val tmp = scratchDir("part", dir)
      graft.operators.Layout.writePartitioned(docs, tmp, Seq("lang", "source"))
      graft.operators.Layout.readPartitioned(s, tmp)
        .filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_len"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("source"))
    },
    Some("""
      SELECT source, count(*) AS n,
             cast(sum(n_chars) as bigint) AS sum_chars,
             cast(sum(length(text)) as bigint) AS sum_len,
             min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents WHERE lang = 'en'
      GROUP BY source ORDER BY source"""))

  /** ORC round trip (Spark's second built-in columnar format — the
    * interchange format a mixed-engine deployment actually encounters):
    * documents written as ORC, read back, stats computed from the
    * ROUND-TRIPPED data while the oracle computes them from the
    * original parquet — any value/type mangling through ORC's
    * encoders breaks the hash. Same shape as the JSONL (q62) and
    * hive-partitioned (q66) round trips. */
  val q72_orc_io = QueryDef(
    "q72_orc_io",
    (s, dir) => {
      val docs = graft.Tables(s, dir).documents
      val tmp = scratchDir("orc", dir)
      docs.write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_len"),
          min(col("text")).as("min_text"),
          max(col("text")).as("max_text"))
        .orderBy(col("lang"), col("source"))
    },
    Some("""
      SELECT lang, source, count(*) AS n,
             cast(sum(n_chars) as bigint) AS sum_chars,
             cast(sum(length(text)) as bigint) AS sum_len,
             min(text) AS min_text, max(text) AS max_text
      FROM documents GROUP BY lang, source ORDER BY lang, source"""))

  /** Raw text-lines round trip ([[graft.sources.Text]]): the documents'
    * text written as one-line-per-doc shards and read back — the
    * schema-free ingestion format of plain .txt corpora. The format
    * keeps no ids, so the gate aggregates over the CONTENT itself
    * (count, summed length, distinct count, min/max line) from the
    * round-tripped lines while the oracle computes them from the
    * original parquet — any line mangling, lost row, or encoding slip
    * breaks the hash. */
  val q73_text_io = QueryDef(
    "q73_text_io",
    (s, dir) => {
      val docs = graft.Tables(s, dir).documents
      val tmp = scratchDir("text", dir)
      graft.sources.Text.writeText(docs, "text", tmp)
      graft.sources.Text.readText(s, tmp)
        .agg(
          count(lit(1)).as("n"),
          sum(length(col("value"))).as("sum_len"),
          count_distinct(col("value")).as("n_distinct"),
          min(col("value")).as("min_text"),
          max(col("value")).as("max_text"))
    },
    Some("""
      SELECT count(*) AS n,
             cast(sum(length(text)) as bigint) AS sum_len,
             cast(count(DISTINCT text) as bigint) AS n_distinct,
             min(text) AS min_text, max(text) AS max_text
      FROM documents"""))

  val all: Seq[QueryDef] = Seq(
    q28_csv_strict, q29_csv_maybe, q30_csv_managers, q31_csv_noheader,
    q32_csv_categorical, q33_csv_fl2_means, q39_csv_timestamp, q62_jsonl_io,
    q66_partitioned_io, q71_csv_multifile, q72_orc_io, q73_text_io)
}
