package graft.schema

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.expressions.ParseUtil

/** Runtime re-implementation of the reference's compile-time column-type
  * inference (acowley/Frames `src/Frames/ColumnUniverse.hs`,
  * `src/Frames/ColumnTypeable.hs`, `src/Frames/TH.hs`).
  *
  * The reference infers one static type per column from a bounded prefix of
  * the file (default 1000 rows, TH.hs:134-136) by folding per-cell
  * candidate types through a join semilattice
  * `Bool < Int < Double < Text`, with `Categorical n` (bounded distinct
  * set, Categorical.hs:130-139) sitting between Bool and Text, and with
  * `""` / `"NA"` treated as missing (constrain nothing,
  * ColumnUniverse.hs:196).
  *
  * Here the lattice fold is pure driver-side Scala over a sampled prefix:
  * scale-safe because the sample is bounded (`df.limit(prefix)`), never the
  * whole dataset.
  */
object Inference {

  /** Lattice points, ordered. `join` is the semilattice LUB. */
  sealed trait ColType { def rank: Int }
  case object TBool extends ColType { val rank = 0 }
  case object TInt extends ColType { val rank = 1 }
  case object TDouble extends ColType { val rank = 2 }
  /** A user-registered cell type (see [[CustomCellType]]) — the runtime
    * analogue of adding a `Parseable` instance to the reference's column
    * universe (`demo/Tutorial.hs:420-456`, `demo/TimeZones/src/TimeIn.hs`).
    * Joins with itself; any other type widens the column to Text. */
  final case class TCustom(key: String) extends ColType { val rank = 3 }
  case object TText extends ColType { val rank = 4 }

  /** User-defined cell type: `matches` classifies a trimmed non-missing
    * cell during driver-side inference (bounded prefix only); `parse`
    * is the distributed codegen'd cast used on the data path — it MUST
    * yield null (not error) for unparseable input so strict/maybe read
    * semantics hold (use `try_*` functions under ANSI mode). Custom
    * types are tried in registration order BEFORE the built-in lattice,
    * mirroring the reference where a custom Parseable is the most
    * specific candidate. */
  final case class CustomCellType(
      key: String,
      matches: String => Boolean,
      dataType: DataType,
      parse: Column => Column)
  /** Not a lattice point per se: tracked alongside, applied only when the
    * final LUB is TText and the distinct set stayed small. */
  final val MissingMarkers = Set("", "NA")

  /** Per-cell candidate: the least lattice type that can represent the
    * cell. Missing cells return None (constrain nothing — the reference's
    * `Possibly` with no information). Custom types are the most specific
    * candidates, tried first in registration order. The built-in types
    * are decided by the parse kernels the readers run on every cell
    * ([[ParseUtil]]), so a column is typed Int only if the reader can
    * parse each of its prefix cells as one: an integer beyond 64 bits
    * widens the column to Double. Comma-stripped doubles (`"80,000"`)
    * are Double (ColumnTypeable.hs:77-80). */
  def cellType(raw: String, customs: Seq[CustomCellType] = Nil): Option[ColType] = {
    val s = raw.trim
    if (MissingMarkers.contains(s)) None
    else customs.find(_.matches(s)) match {
      case Some(c) => Some(TCustom(c.key))
      case None =>
        val cell = UTF8String.fromString(s)
        if (ParseUtil.parseBool(cell) != null) Some(TBool)
        else if (ParseUtil.parseIntish(cell) != null) Some(TInt)
        else if (ParseUtil.parseDouble(cell) != null) Some(TDouble)
        else Some(TText)
    }
  }

  /** Semilattice join: commutative, associative, idempotent.
    * Bool⊔Int = Text in the reference (a bool cell can't widen to a
    * number); numeric types widen among themselves. */
  def join(a: ColType, b: ColType): ColType = (a, b) match {
    case (x, y) if x == y => x
    case (TCustom(_), _) | (_, TCustom(_)) => TText // custom only joins itself
    case (TBool, _) | (_, TBool) => TText // bool never widens numerically
    case (TInt, TDouble) | (TDouble, TInt) => TDouble
    case (TText, _) | (_, TText) => TText
    case _ => TText
  }

  /** Result of inferring one column. */
  final case class ColInfo(
      name: String,
      colType: ColType,
      nullable: Boolean,
      categories: Option[Seq[String]],
      custom: Option[CustomCellType] = None) {
    def sparkType: DataType = colType match {
      case TBool => BooleanType
      case TInt => LongType // LongType for safety at scale (SURVEY §1.2)
      case TDouble => DoubleType
      case TCustom(_) => custom
        .getOrElse(throw new IllegalStateException(s"custom type lost for $name"))
        .dataType
      case TText => StringType
    }
    def toField: StructField = {
      val md = categories match {
        case Some(cats) =>
          new MetadataBuilder()
            .putStringArray("graft.categories", cats.sorted.toArray)
            .build()
        case None => Metadata.empty
      }
      StructField(name, sparkType, nullable = true, md)
    }
  }

  final case class Options(
      categoricalMaxCardinality: Int = 0, // 0 = off; reference default 8 when enabled
      customTypes: Seq[CustomCellType] = Nil)

  /** Fold a prefix of raw string rows (header excluded) into per-column
    * types. `rows` is a bounded sample (the caller reads a bounded
    * prefix). Column-count mismatches are a hard error, mirroring
    * CSV.hs:192-206. */
  def inferFromRows(
      names: Seq[String],
      rows: Iterable[Seq[String]],
      opts: Options = Options()): Seq[ColInfo] = {
    val n = names.length
    val acc: Array[Option[ColType]] = Array.fill(n)(None)
    val sawMissing = Array.fill(n)(false)
    val distincts = Array.fill(n)(scala.collection.mutable.LinkedHashSet.empty[String])
    val catMax = opts.categoricalMaxCardinality
    rows.foreach { row =>
      require(
        row.length == n,
        s"row has ${row.length} columns but header has $n — embedded newlines or malformed input")
      var i = 0
      while (i < n) {
        val s = Option(row(i)).getOrElse("").trim
        if (MissingMarkers.contains(s)) sawMissing(i) = true
        else {
          cellType(s, opts.customTypes).foreach { t =>
            acc(i) = Some(acc(i).fold(t)(join(_, t)))
          }
          if (catMax > 0 && distincts(i).size <= catMax) distincts(i) += s
        }
        i += 1
      }
    }
    names.indices.map { i =>
      val t = acc(i).getOrElse(TText) // all-missing column -> Text
      val cats =
        if (catMax > 0 && t == TText && acc(i).isDefined &&
          distincts(i).size <= catMax && distincts(i).nonEmpty)
          Some(distincts(i).toSeq.sorted) // sorted: deterministic at any scale
        else None
      val custom = t match {
        case TCustom(key) => opts.customTypes.find(_.key == key)
        case _ => None
      }
      ColInfo(names(i), t, nullable = sawMissing(i) || acc(i).isEmpty, cats, custom)
    }
  }

  def toStructType(cols: Seq[ColInfo]): StructType = StructType(cols.map(_.toField))
}
