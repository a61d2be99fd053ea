package graft

import scala.util.Random

import graft.schema.Inference
import graft.schema.Inference._
import graft.sources.Csv

/** Property tests for the inference lattice and the CSV round trip
  * (SURVEY §5: "commutativity/associativity of the column-type merge").
  *
  * The lattice has six points, so the algebraic laws are checked
  * EXHAUSTIVELY over every pair/triple — stronger than sampling. The
  * fold-level invariances (row order, column permutation) and the
  * write→read round trip use seeded `scala.util.Random` generators:
  * deterministic runs, adversarial content (quotes, separators,
  * unicode, missing markers, intish/comma-double spellings).
  */
class InferencePropSpec extends SparkSpec {

  private val points: Seq[ColType] =
    Seq(TBool, TInt, TDouble, TText, TCustom("a"), TCustom("b"))

  test("join is commutative, associative, idempotent (exhaustive over the lattice)") {
    for (a <- points) assert(join(a, a) == a, s"idempotence at $a")
    for (a <- points; b <- points)
      assert(join(a, b) == join(b, a), s"commutativity at ($a, $b)")
    for (a <- points; b <- points; c <- points)
      assert(join(join(a, b), c) == join(a, join(b, c)), s"associativity at ($a, $b, $c)")
  }

  test("join is an upper bound and TText is absorbing (exhaustive)") {
    for (a <- points; b <- points) {
      val j = join(a, b)
      // least-upper-bound order: x <= y iff join(x, y) == y
      assert(join(a, j) == j, s"$j is not >= $a")
      assert(join(b, j) == j, s"$j is not >= $b")
      assert(join(a, TText) == TText, s"TText must absorb $a")
    }
  }

  // cell pool exercising every lattice edge plus the reference quirks:
  // intish ".0", comma-grouped doubles, NA/empty missing, bools, text
  private val cellPool = Vector(
    "true", "False", "TRUE", "5", "-12", "5.0", "-3.25", ".5", "1e3",
    "80,000", "2.5E-2", "hello", "NA", "", "  7  ", "x y z", "0.0", "-0")

  private def randomGrid(rng: Random): (Seq[String], Seq[Seq[String]]) = {
    val nCols = 1 + rng.nextInt(6)
    val nRows = 1 + rng.nextInt(30)
    val names = (0 until nCols).map(i => s"c$i")
    val rows = Seq.fill(nRows)(Seq.fill(nCols)(cellPool(rng.nextInt(cellPool.size))))
    (names, rows)
  }

  test("inferFromRows is invariant under row order (50 seeded grids)") {
    for (seed <- 0 until 50) {
      val rng = new Random(seed)
      val (names, rows) = randomGrid(rng)
      val base = Inference.inferFromRows(names, rows)
      val shuffled = Inference.inferFromRows(names, rng.shuffle(rows))
      assert(base == shuffled, s"seed $seed: row order changed the inference")
    }
  }

  test("inferFromRows commutes with column permutation (50 seeded grids)") {
    for (seed <- 50 until 100) {
      val rng = new Random(seed)
      val (names, rows) = randomGrid(rng)
      val perm = rng.shuffle(names.indices.toList)
      val base = Inference.inferFromRows(names, rows)
      val permuted = Inference.inferFromRows(
        perm.map(names), rows.map(r => perm.map(r)))
      assert(perm.map(base) == permuted, s"seed $seed: column permutation diverged")
    }
  }

  test("the inferred column type is an upper bound of every cell's type (50 seeded grids)") {
    for (seed <- 100 until 150) {
      val rng = new Random(seed)
      val (names, rows) = randomGrid(rng)
      val inferred = Inference.inferFromRows(names, rows)
      for ((ci, i) <- inferred.zipWithIndex; row <- rows) {
        cellType(row(i)).foreach { t =>
          assert(join(t, ci.colType) == ci.colType,
            s"seed $seed col $i: ${ci.colType} does not dominate cell '${row(i)}' ($t)")
        }
      }
    }
  }

  // ---------------- cell classification against the regex grammar ----------------

  /** The regex formulation `cellType` used before it called the parse
    * kernels, kept as the reference (the patterns are
    * [[graft.functions.Parsing]]'s). */
  private def regexCellType(raw: String): Option[ColType] = {
    import graft.functions.Parsing
    val s = raw.trim
    if (MissingMarkers.contains(s)) None
    else if (s.matches(Parsing.BoolRe)) Some(TBool)
    else if (s.matches(Parsing.IntishRe)) Some(TInt)
    else if (s.replace(",", "").matches(Parsing.DoubleRe)) Some(TDouble)
    else Some(TText)
  }

  test("cellType agrees with the regex grammar except on integers beyond 64 bits (20,000 generated cells)") {
    val pieces = Vector(
      "", " ", "+", "-", ".", ",", "0", "7", "42", "123456789", "9223372036854775807",
      "9223372036854775808", "12345678901234567890", ".0", ".5", "e", "E", "e+", "e-",
      "true", "FaLsE", "NA", "x", "\t")
    val rng = new Random(7)
    val generated = Seq.fill(20000)(Seq.fill(1 + rng.nextInt(4))(pieces(rng.nextInt(pieces.size))).mkString)
    val cells = generated ++ Seq(
      "-9223372036854775808", "-9223372036854775807", "9223372036854775807.0",
      "99999999999999999999.0", "1,000", "80,000.5", " TRUE ", "NA ", "")
    // the kernel parses intish values in ±(2^63 - 1), so Long.MinValue's
    // own literal is beyond its range too
    def beyond64Bits(s: String): Boolean =
      BigInt(s.trim.stripSuffix(".0")).abs > BigInt(Long.MaxValue)
    cells.foreach { c =>
      val (got, ref) = (cellType(c), regexCellType(c))
      if (got != ref)
        assert(ref.contains(TInt) && got.contains(TDouble) && beyond64Bits(c),
          s"'$c': kernels say $got, the regex grammar $ref")
    }
    assert(cells.exists(c => regexCellType(c).contains(TInt) && beyond64Bits(c)),
      "no generated cell reached beyond 64 bits")
    assert(Seq(TBool, TInt, TDouble, TText).forall(t => cells.exists(c => cellType(c).contains(t))))
  }

  // ---------------- randomized CSV round trip ----------------

  // newline-free adversarial strings; "" and "NA" excluded because the
  // reference defines them as missing (they read back as null by design)
  private val textPool = Vector(
    """MUSSER, B W "B"""", "João", "Esperança", "a,b,c", "\"quoted\"",
    "tab\tinside", "semi;colon", "plain",
    "quote\"mid", "uni – dash", "emoji ☃")

  test("write->read round trip preserves random typed frames (10 seeded frames)") {
    import spark.implicits._
    for (seed <- 0 until 10) {
      val rng = new Random(1000 + seed)
      val n = 1 + rng.nextInt(40)
      val rows = (0 until n).map { i =>
        (i.toLong,
          rng.nextLong() % 100000,
          // odd-hundredths doubles: print exactly, re-parse exactly, and
          // never spell as "k.0" (which would re-infer Int via intish)
          ((rng.nextLong() % 1000000) | 1L) / 100.0,
          textPool(rng.nextInt(textPool.size)),
          rng.nextBoolean())
      }
      val orig = rows.toDF("id", "n", "x", "s", "b")
      val dir = tempDir(s"graft_csv_prop$seed").toFile
      val out = new java.io.File(dir, "rt").getAbsolutePath
      Csv.writeCsv(orig, out, singleFile = true)
      val cols = Csv.inferSchema(out)
      val back = Csv.readTableWith(spark, out, cols)
      assert(back.count() == n.toLong, s"seed $seed: row count changed")
      val a = orig.orderBy("id").collect().map(_.toSeq.map(String.valueOf))
      val b = back.orderBy("id").collect().map(_.toSeq.map(String.valueOf))
      // compare as canonical strings: inference may widen long -> double
      // spellings but values must canonicalize identically
      for ((ra, rb) <- a.zip(b)) assert(ra.sameElements(rb), s"seed $seed: $ra != $rb")
    }
  }
}
