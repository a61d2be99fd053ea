package graft.sources

import java.io.{BufferedReader, InputStreamReader}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Parsing
import graft.schema.Inference
import graft.schema.Inference.{ColInfo, TBool, TDouble, TInt, TText}

/** The CSV front door — the reference's primary entry point
  * (acowley/Frames: every program starts with `tableTypes` + `readTable`),
  * re-expressed as runtime schema inference feeding Spark's distributed
  * CSV source.
  *
  * Three read modes mirror the reference exactly:
  *   - [[Csv.readTable]] — strict: silently drops any row with an
  *     unparseable cell (`src/Frames/CSV.hs:364-387`; a row survives iff
  *     every typed cell parses — Text always parses);
  *   - [[Csv.readTableMaybe]] — per-cell nullable: a failed parse yields
  *     null in that cell, the row survives (`src/Frames/CSV.hs:281-330`);
  *   - [[Csv.readTableDebug]] — strict rows plus a corrupt-row side
  *     channel listing which columns failed (`src/Frames/CSV.hs:403-429`,
  *     which prints per-cell Left/Right to stderr).
  *
  * Scale design: only schema inference reads on the driver — a bounded
  * prefix (<= `inferencePrefix` rows) of each sampled file, through
  * Hadoop's `FileSystem`, with no Spark job — and it types cells with
  * the parse kernels the data path runs. The data path is
  * `spark.read.csv` with an explicit all-string schema — distributed,
  * splittable, filter-pushdown-friendly — followed by codegen'd parse
  * expressions ([[graft.functions.Parsing]]). No UDFs, no collect.
  *
  * Known divergence (documented): Spark's reader surfaces an empty cell
  * as null, the reference's Text parse of `""` yields `""` — so Text
  * columns carry null where the reference carries an empty string. All
  * other cells agree: `""`/`"NA"` fail every non-Text parse in both
  * engines.
  */
object Csv {

  /** Quoting modes, mirroring `src/Frames/CSV.hs:63-67`. */
  sealed trait QuotingMode
  case object NoQuoting extends QuotingMode
  /** Doubled-quote escape, no embedded newlines (`CSV.hs:104-146`). */
  final case class RFC4180Quoting(quote: Char = '"') extends QuotingMode

  /** Mirror of the reference `ParserOptions` (`src/Frames/CSV.hs:68-96`)
    * plus the inference knobs that are compile-time in the reference
    * (`src/Frames/TH.hs:134-136` prefix; categorical cardinality from
    * `CommonColumnsCat`, `src/Frames/ColumnUniverse.hs:237`).
    * As in the reference, `headerOverride` implies the file has NO header
    * row — the first line is data (`test/NoHeader.hs:15-34`). */
  final case class ParserOptions(
      headerOverride: Option[Seq[String]] = None,
      separator: String = ",",
      quoting: QuotingMode = RFC4180Quoting('"'),
      encoding: String = "UTF-8",
      inferencePrefix: Int = 1000,
      categoricalMaxCardinality: Int = 8,
      customTypes: Seq[Inference.CustomCellType] = Nil)

  /** `%F %T` local timestamps as a custom cell type — the reference's
    * TimeIn user-extension demo (`demo/TimeZones/src/TimeIn.hs:28-43`):
    * register it and `tableTypes`-style inference produces a Timestamp
    * column. `try_to_timestamp` keeps failed cells null (strict reads
    * then drop the row; maybe reads keep it null). */
  def timestampCell: Inference.CustomCellType = Inference.CustomCellType(
    key = "timestamp",
    matches = s => TimestampCellRe.pattern.matcher(s).matches(),
    dataType = TimestampType,
    parse = c => try_to_timestamp(trim(c), lit("yyyy-MM-dd HH:mm:ss")))

  /** TimeIn-with-zone: parse as local time in `zone`, store UTC
    * (`demo/TimeZones/src/TimeIn.hs:36-43`, `timeIn "America/Chicago"`). */
  def timestampInZoneCell(zone: String): Inference.CustomCellType =
    timestampCell.copy(
      key = s"timestamp_$zone",
      parse = c =>
        to_utc_timestamp(try_to_timestamp(trim(c), lit("yyyy-MM-dd HH:mm:ss")), zone))

  private val TimestampCellRe =
    "^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$".r

  // ------------------------------------------------------------------
  // Tokenizer — driver-side, used ONLY for the bounded inference prefix.
  // Replicates `tokenizeRow` / `reassembleRFC4180QuotedParts`
  // (`src/Frames/CSV.hs:104-146`): split on the separator, re-join
  // quoted fields, strip unquoted tokens, unescape doubled quotes.
  // ------------------------------------------------------------------

  private def splitLiteral(line: String, sep: String): List[String] = {
    val out = List.newBuilder[String]
    var from = 0
    var i = line.indexOf(sep)
    while (i >= 0) {
      out += line.substring(from, i)
      from = i + sep.length
      i = line.indexOf(sep, from)
    }
    out += line.substring(from)
    out.result()
  }

  def tokenizeRow(line: String, opts: ParserOptions): List[String] = {
    val parts = splitLiteral(line, opts.separator)
    opts.quoting match {
      case NoQuoting => parts
      case RFC4180Quoting(q) => reassembleQuoted(parts, opts.separator, q)
    }
  }

  private def reassembleQuoted(parts: List[String], sep: String, q: Char): List[String] = {
    val qs = q.toString
    def unescape(s: String) = s.replace(qs + qs, qs)
    // REFERENCE semantics, not strict RFC4180: a quoted field closes at
    // the first part that ENDS with a quote (the reference's suffix-quote
    // reassembly, CSV.hs:117-141) — which is what makes its lenient
    // unescaped-inner-quote files (test/data/issue114.csv: `"MUSSER, B W
    // "B""`) parse. Deliberate divergence: a strict-RFC field whose
    // content ends in an escaped quote right before an embedded separator
    // (`"x"",y"`) closes early here, exactly as it does in the reference.
    def go(ps: List[String]): List[String] = ps match {
      case Nil => Nil
      case part :: rest if part.isEmpty => "" :: go(rest)
      case part :: rest if part.head == q =>
        if (part.length > 1 && part.endsWith(qs))
          unescape(part.drop(1).dropRight(1)) :: go(rest)
        else {
          val (h, t) = rest.span(p => !p.endsWith(qs))
          t match {
            case Nil => List(unescape((part.drop(1) :: h).mkString(sep)))
            case last :: ts =>
              unescape(((part.drop(1) :: h) :+ last.dropRight(1)).mkString(sep)) :: go(ts)
          }
        }
      case part :: rest => part.trim :: go(rest)
    }
    go(parts)
  }

  // ------------------------------------------------------------------
  // Inference — bounded driver-side prefix -> per-column lattice fold.
  // ------------------------------------------------------------------

  /** The first `n` lines of each sampled file under `path`, read on the
    * driver through Hadoop's `FileSystem` in `encoding`. A directory is
    * listed one level deep; its hidden entries (`_`/`.` prefixed) are
    * skipped and the rest sorted by path. Up to `maxFiles` of them are
    * sampled at an even stride, so the first and the last file are always
    * read. Files are opened one after another. */
  private def samplePrefixes(
      conf: Configuration, path: String, n: Int, encoding: String,
      maxFiles: Int): Seq[Vector[String]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val all =
      if (!fs.getFileStatus(root).isDirectory) Seq(root)
      else fs.listStatus(root).toSeq
        .filter(s => s.isFile && !Seq("_", ".").exists(s.getPath.getName.startsWith))
        .map(_.getPath).sortBy(_.toString)
    require(all.nonEmpty, s"no files under $path")
    val files =
      if (all.size <= maxFiles) all
      else if (maxFiles == 1) Seq(all.head)
      else (0 until maxFiles)
        .map(i => all((i.toLong * (all.size - 1) / (maxFiles - 1)).toInt))
        .distinct
    files.map { f =>
      val reader = new BufferedReader(new InputStreamReader(fs.open(f), encoding))
      try Iterator.continually(reader.readLine()).takeWhile(_ != null).take(n).toVector
      finally reader.close()
    }
  }

  private def sanitize(names: Seq[String]): Seq[String] =
    names.zipWithIndex.map { case (n, i) => if (n.trim.isEmpty) s"_c$i" else n.trim }

  /** Column names + inferred per-column types from a bounded file prefix
    * (EP1 of SURVEY §3: the runtime analogue of `tableTypes`): the first
    * `inferencePrefix` rows of the first file of `path`, as the reference
    * reads one file (`src/Frames/TH.hs:134-136`). `path` may be a plain
    * path or any URI Hadoop reads, under the active session's Hadoop
    * configuration (Hadoop's defaults without a session). Column-count
    * mismatches in the prefix are a hard error, mirroring
    * `CSV.hs:192-206` (embedded newlines unsupported). */
  def inferSchema(path: String, opts: ParserOptions = ParserOptions()): Seq[ColInfo] = {
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).getOrElse(new Configuration())
    inferSampled(conf, path, opts, maxFiles = 1)
  }

  /** Sampled MULTI-FILE schema inference — the scale-out complement to
    * [[inferSchema]]'s reference-faithful single-file prefix. A
    * multi-file CSV drop can type-drift in later files (an int column
    * goes fractional in file 400); first-file-only inference then types
    * the column Int and the strict reader silently drops every drifted
    * row. This variant reads the first `inferencePrefix` lines of up to
    * `maxFiles` files — chosen at an even stride over the sorted listing
    * so the first AND last files are always sampled — and folds ALL
    * sampled rows through the same §1.4 type lattice. Names come from
    * the first file's header; a sampled file whose column count
    * disagrees is a hard error (mirroring the reference's column-mismatch
    * error), not a silent drop. Callers opt in by passing the result to
    * `readTableWith`.
    *
    * The prefixes are read on the driver, through `spark`'s Hadoop
    * configuration, and no Spark job runs: a job per call cost more than
    * the reads it distributed. Sampling 64 files therefore means 64
    * sequential opens on the driver. The name predates that and stays,
    * as callers use it. */
  def inferSchemaDistributed(
      spark: SparkSession,
      path: String,
      opts: ParserOptions = ParserOptions(),
      maxFiles: Int = 64): Seq[ColInfo] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    inferSampled(spark.sparkContext.hadoopConfiguration, path, opts, maxFiles)
  }

  private def inferSampled(
      conf: Configuration, path: String, opts: ParserOptions, maxFiles: Int): Seq[ColInfo] = {
    val hasHeader = opts.headerOverride.isEmpty
    val byFile = samplePrefixes(
      conf, path, opts.inferencePrefix + (if (hasHeader) 1 else 0), opts.encoding, maxFiles)
      .filter(_.nonEmpty)
    require(byFile.nonEmpty, s"empty CSV: $path")
    val names = sanitize(
      opts.headerOverride.getOrElse(tokenizeRow(byFile.head.head, opts)))
    val rows = byFile.flatMap { lines =>
      (if (hasHeader) lines.tail else lines).map(l => tokenizeRow(l, opts))
    }
    Inference.inferFromRows(
      names, rows, Inference.Options(opts.categoricalMaxCardinality, opts.customTypes))
  }

  // ------------------------------------------------------------------
  // Distributed read path.
  // ------------------------------------------------------------------

  /** All-string distributed scan with the inferred names. The explicit
    * schema keeps the read splittable (no Spark-side inference pass). */
  private def rawRead(
      spark: SparkSession,
      path: String,
      names: Seq[String],
      opts: ParserOptions): DataFrame = {
    val schema = StructType(names.map(StructField(_, StringType, nullable = true)))
    val quote = opts.quoting match {
      case RFC4180Quoting(q) => q.toString
      case NoQuoting => "\u0000" // univocity: NUL quote char disables quoting
    }
    spark.read
      .schema(schema)
      .option("header", opts.headerOverride.isEmpty)
      .option("sep", opts.separator)
      .option("quote", quote)
      .option("escape", quote) // doubled-quote escape (RFC4180)
      .option("encoding", opts.encoding)
      .option("multiLine", value = false)
      .option("ignoreLeadingWhiteSpace", value = true) // T.strip parity, CSV.hs:146
      .option("ignoreTrailingWhiteSpace", value = true)
      // lenient unescaped-quote recovery matching the reference's
      // suffix-quote reassembly (CSV.hs:117-141; exercised by
      // test/data/issue114.csv, whose inner quote is NOT doubled)
      .option("unescapedQuoteHandling", "STOP_AT_CLOSING_QUOTE")
      .option("mode", "PERMISSIVE")
      .csv(path)
  }

  private def parseExpr(ci: ColInfo): Column = {
    val raw = col(ci.name)
    ci.colType match {
      case TBool => Parsing.parseBool(raw)
      case TInt => Parsing.parseIntish(raw)
      case TDouble => Parsing.parseDouble(raw)
      case Inference.TCustom(_) => ci.custom.get.parse(raw)
      case TText => raw
    }
  }

  private def typedProjection(raw: DataFrame, cols: Seq[ColInfo]): DataFrame =
    raw.select(cols.map(ci => parseExpr(ci).as(ci.name, ci.toField.metadata)): _*)

  /** Conjunction: every typed (non-Text) cell parsed. */
  private def allTypedParsed(cols: Seq[ColInfo]): Column =
    cols.filter(_.colType != TText)
      .map(ci => parseExpr(ci).isNotNull)
      .reduceOption(_ && _)
      .getOrElse(lit(true))

  /** Strict read: infer, parse, silently drop rows with any unparseable
    * typed cell (`readTable`, `src/Frames/CSV.hs:364-387`). */
  def readTable(
      spark: SparkSession,
      path: String,
      opts: ParserOptions = ParserOptions()): DataFrame = {
    val cols = inferSchemaDistributed(spark, path, opts, maxFiles = 1)
    val raw = rawRead(spark, path, cols.map(_.name), opts)
    typedProjection(raw.filter(allTypedParsed(cols)), cols)
  }

  /** Strict read with a KNOWN column plan, skipping inference — the
    * analogue of re-reading with the compile-time row type (the
    * reference's write->read round trip, `test/Spec.hs:118-146`, re-reads
    * with the original `tableTypes`; re-inference would canonicalize
    * `80000.0` back to Int via the intish rule). */
  def readTableWith(
      spark: SparkSession,
      path: String,
      cols: Seq[ColInfo],
      opts: ParserOptions = ParserOptions()): DataFrame = {
    val raw = rawRead(spark, path, cols.map(_.name), opts)
    typedProjection(raw.filter(allTypedParsed(cols)), cols)
  }

  /** TYPED strict read — the consumer half of the `tableTypes`
    * analogue ([[graft.schema.Codegen]] emits the case class; this
    * reads the file as `Dataset[T]` for it, the compile-time column
    * safety a reference user gets from the TH splice on every table,
    * `src/Frames/TH.hs:174-175`).
    *
    * Contract: `T`'s fields map POSITIONALLY to the file's columns
    * (field names are sanitized forms of the header names, so names
    * cannot be matched; the generated `columnNames` records the
    * correspondence). Field types drive parsing — no inference on the
    * data path: Long/Int ← intish, Double ← lenient double, Boolean,
    * String raw. `Option[...]` fields take the per-cell-maybe
    * semantics (failed parse → None, row survives); non-Option typed
    * fields are strict (any failure drops the row) — exactly the
    * reference's split between `Record rs` and Maybe-typed rows.
    * Output columns carry the FIELD names, so the generated
    * `cols.<field>` accessors address them directly. */
  def readTableAs[T <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession,
      path: String,
      opts: ParserOptions = ParserOptions()): org.apache.spark.sql.Dataset[T] = {
    val enc = org.apache.spark.sql.Encoders.product[T]
    val fields = enc.schema.fields
    val names = sanitize(opts.headerOverride.getOrElse(tokenizeRow(
      samplePrefixes(spark.sparkContext.hadoopConfiguration, path, 1, opts.encoding, 1)
        .head.headOption.getOrElse(sys.error(s"empty CSV: $path")), opts)))
    require(names.length == fields.length,
      s"${fields.length}-field ${enc.clsTag.runtimeClass.getSimpleName} vs " +
        s"${names.length}-column file $path (fields map positionally)")
    def colTypeFor(dt: DataType, field: String): Inference.ColType = dt match {
      case BooleanType => TBool
      case LongType | IntegerType | ShortType | ByteType => TInt
      case DoubleType | FloatType => TDouble
      case StringType => TText
      case other =>
        sys.error(s"readTableAs: unsupported field type $other for $field " +
          "(Boolean/Long/Int/Double/String and Options thereof)")
    }
    val cols = fields.zip(names).map { case (f, n) =>
      ColInfo(n, colTypeFor(f.dataType, f.name), nullable = f.nullable, None)
    }
    val raw = rawRead(spark, path, names, opts)
    // strict on non-Option typed fields only; Option fields are
    // per-cell maybe
    val strict = raw.filter(allTypedParsed(cols.filterNot(_.nullable)))
    val typed = strict.select(cols.zip(fields).map { case (ci, f) =>
      parseExpr(ci).cast(f.dataType).as(f.name)
    }: _*)
    typed.as[T](enc)
  }

  /** Per-cell-nullable read: failed parses become nulls, rows survive
    * (`readTableMaybe`, `src/Frames/CSV.hs:281-330`). */
  def readTableMaybe(
      spark: SparkSession,
      path: String,
      opts: ParserOptions = ParserOptions()): DataFrame = {
    val cols = inferSchemaDistributed(spark, path, opts, maxFiles = 1)
    typedProjection(rawRead(spark, path, cols.map(_.name), opts), cols)
  }

  /** Debug read: the strict rows plus a corrupt-row side channel — the
    * raw values of every dropped row with the list of columns that failed
    * to parse (`readTableDebug`, `src/Frames/CSV.hs:403-429`). */
  final case class DebugResult(rows: DataFrame, corrupt: DataFrame)

  def readTableDebug(
      spark: SparkSession,
      path: String,
      opts: ParserOptions = ParserOptions()): DebugResult = {
    val cols = inferSchemaDistributed(spark, path, opts, maxFiles = 1)
    val raw = rawRead(spark, path, cols.map(_.name), opts)
    val failedCols = array_compact(array(
      cols.filter(_.colType != TText).map(ci =>
        when(parseExpr(ci).isNull, lit(ci.name))): _*))
    val corrupt = raw
      .filter(!allTypedParsed(cols))
      .withColumn("_failed_columns", failedCols)
    DebugResult(typedProjection(raw.filter(allTypedParsed(cols)), cols), corrupt)
  }

  // ------------------------------------------------------------------
  // Write path (`writeCSV`/`writeDSV`, `src/Frames/CSV.hs:456-530`).
  // ------------------------------------------------------------------

  /** Distributed CSV write with header, mirroring `writeDSV`'s separator
    * option. `singleFile` coalesces to one part (driver-scale convenience
    * matching the reference's single-file output; leave false at scale).
    *
    * Value rendering vs the reference's `ShowCSV`
    * (`src/Frames/ShowCSV.hs:8-17`, Haskell `show` per type) — pinned
    * byte-wise in CsvSpec:
    *   - Bool: Spark writes `true`/`false`; the reference `True`/`False`.
    *     `referenceStyle = true` renders boolean columns the reference's
    *     way (a scan-local projection, no plan change otherwise).
    *   - Double: Java canonical form (`0.01`); Haskell `show` uses
    *     scientific notation below 0.1 (`1.0e-2`). DELIBERATE divergence
    *     — Java's form round-trips bit-exactly through every reader here.
    *   - Text: RFC4180-quoted only when it contains separator/quote/
    *     newline; the reference writes text RAW (`showCSV = id`), which
    *     emits unparseable CSV for such values. Deliberate divergence.
    *   - Null: empty cell both ways (the reference never writes Maybe
    *     rows; our nullable frames write `""`, re-read as missing). */
  def writeCsv(
      df: DataFrame,
      path: String,
      separator: String = ",",
      header: Boolean = true,
      singleFile: Boolean = false,
      referenceStyle: Boolean = false): Unit = {
    val styled =
      if (!referenceStyle) df
      else df.select(df.schema.fields.map { f =>
        if (f.dataType == BooleanType)
          when(col(f.name), "True").when(!col(f.name), "False").as(f.name)
        else col(f.name)
      }.toSeq: _*)
    val out = if (singleFile) styled.coalesce(1) else styled
    out.write
      .option("header", header)
      .option("sep", separator)
      // RFC4180 doubled-quote escape, matching every read path (the
      // univocity default backslash escape would corrupt the round trip
      // for values containing quotes)
      .option("escape", "\"")
      .option("emptyValue", "")
      .mode("overwrite")
      .csv(path)
  }
}
