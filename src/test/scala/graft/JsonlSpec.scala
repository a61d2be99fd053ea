package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Jsonl

/** JSONL trio semantics ([[graft.sources.Jsonl]]): strict drops a bad
  * line, maybe keeps it as nulls, debug quarantines the raw line. */
class JsonlSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  private def fixture: String = {
    val dir = tempDir("graft_jsonl_spec")
    Files.writeString(dir.resolve("part-0.jsonl"),
      """{"id": 1, "text": "alpha"}
        |{"id": 2 "text": "broken json"}
        |{"id": 3, "text": "gamma"}
        |""".stripMargin)
    dir.toString
  }

  test("strict read drops the malformed line") {
    val rows = Jsonl.readJsonl(spark, fixture, schema)
      .orderBy(col("id")).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("maybe read keeps the malformed line as nulls") {
    val rows = Jsonl.readJsonlMaybe(spark, fixture, schema)
      .orderBy(col("id").asc_nulls_first).collect()
    assert(rows.length == 3)
    assert(rows.head.isNullAt(0) && rows.head.isNullAt(1))
  }

  test("debug read quarantines the raw offending line") {
    val (clean, corrupt) = Jsonl.readJsonlDebug(spark, fixture, schema)
    assert(clean.count() == 2)
    val bad = corrupt.collect().map(_.getAs[String]("_corrupt_record")).toSeq
    assert(bad == Seq("""{"id": 2 "text": "broken json"}"""))
  }

  test("debug read lands a literal null line in the corrupt channel") {
    val dir = tempDir("graft_jsonl_null")
    Files.writeString(dir.resolve("part-0.jsonl"),
      """{"id": 1, "text": "alpha"}
        |null
        |{"id": 3, "text": "gamma"}
        |""".stripMargin)
    val (clean, corrupt) = Jsonl.readJsonlDebug(spark, dir.toString, schema)
    // from_json parses `null` to a null struct with no corrupt-record
    // entry; it must surface on the corrupt side, not vanish.
    assert(clean.count() == 2)
    assert(corrupt.collect().map(_.getString(0)).toSeq == Seq("null"))
  }

  test("round trip preserves rows and schema") {
    val dir = tempDir("graft_jsonl_rt").toString
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    Jsonl.writeJsonl(docs, dir)
    val back = Jsonl.readJsonl(spark, dir, docs.schema)
    assert(back.schema == docs.schema)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("text lines round-trip as a multiset, including empty and unicode lines") {
    import spark.implicits._
    val dir = tempDir("graft_text_spec").toString
    val lines = Seq("alpha beta", "", "  leading and trailing  ",
      "Espérança — ünïcode ✓", "alpha beta")
    val df = lines.toDF("text")
    graft.sources.Text.writeText(df, "text", dir)
    val back = graft.sources.Text.readText(spark, dir)
      .collect().map(_.getString(0)).toSeq
    // shard writes reorder rows; content is a multiset
    assert(back.sorted == lines.sorted, s"got ${back.mkString("|")}")
  }
}
