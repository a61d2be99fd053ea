package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the sketch/vector kernels on the dedup
  * and similarity hot paths (SimHash, MinHash signatures, hyperplane LSH
  * signatures, cosine, IVF nearest cells). Each is a single tight Java
  * loop per row inlined into whole-stage codegen via `doGenCode`.
  *
  * The higher-order-function formulations these replace
  * (`transform`/`aggregate`/`zip_with`) are semantically identical but
  * allocate an intermediate array per lambda step — for a 64-hash MinHash
  * signature over S shingles that is O(64*S) short-lived arrays per row,
  * which dominated the d03/d04/d06 benchmark profiles. At 100 TB the
  * sketch pass touches every row, so it must be allocation-free.
  *
  * Hashing reuses Spark's own XXH64 (seed 42), so results are bit-identical
  * to the `xxhash64(...)` SQL function compositions they replace.
  *
  * This is the SURVEY §7.3 / builder-brief "custom Expression beats UDF"
  * path; the reference has no sketch surface (its dedup is whole-row Eq,
  * acowley/Frames `src/Frames/Frame.hs:30-32`).
  */
object SketchUtil {
  /** Spark SQL's xxhash64 default seed (XxHash64 expression). */
  final val SparkSeed = 42L

  /** SimHash over pre-tokenized strings: bit j of the result is set iff
    * strictly more token hashes have bit j set than clear. Empty -> 0L. */
  def simhash(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = XXH64.hashUTF8String(tokens.getUTF8String(i), SparkSeed)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) != 0L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** MinHash signature: element i is the minimum over shingles of
    * hash_i(s) = hashLong(xxhash64(s), hashLong(seed+i, 42)). Identical to
    * the xxhash64(lit(seed+i), xxhash64(s)) expression composition for
    * non-empty input. An empty shingle array yields a NULL signature (no
    * content, no sketch) — callers filter empties before banding. */
  def minhashSig(shingles: ArrayData, numHashes: Int, seed: Long): GenericArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val innerSeeds = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      innerSeeds(i) = XXH64.hashLong(seed + i, SparkSeed)
      i += 1
    }
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var s = 0
    while (s < n) {
      if (!shingles.isNullAt(s)) {
        val base = XXH64.hashUTF8String(shingles.getUTF8String(s), SparkSeed)
        var k = 0
        while (k < numHashes) {
          val v = XXH64.hashLong(base, innerSeeds(k))
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  /** Sign-bit signature of `v` against `nPlanes` hyperplanes flattened
    * row-major into `planes` (length nPlanes*dim): bit p set iff
    * dot(v, plane_p) >= 0. Accumulates in element order like the
    * zip_with/aggregate composition it replaces. */
  def hyperplaneSig(v: ArrayData, planes: Array[Double], dim: Int): Long = {
    val n = math.min(v.numElements(), dim)
    val nPlanes = planes.length / dim
    var out = 0L
    var p = 0
    while (p < nPlanes) {
      var d = 0.0
      val off = p * dim
      var i = 0
      while (i < n) {
        d += v.getDouble(i) * planes(off + i)
        i += 1
      }
      if (d >= 0.0) out |= (1L << p)
      p += 1
    }
    out
  }

  /** k-token shingles, replicating the HOF composition exactly: windows
    * i=0..max(n-k,0), each the space-join of tokens(i..i+k-1) (clamped at
    * the end, so n<=k yields one shingle — the whole-array join; n==0
    * yields [""]), distinct preserving first occurrence. */
  def wordShingles(tokens: ArrayData, k: Int): GenericArrayData = {
    val n = tokens.numElements()
    val space = UTF8String.fromString(" ")
    val nWindows = math.max(n - k, 0) + 1
    val seen = new java.util.LinkedHashSet[UTF8String](nWindows * 2)
    var i = 0
    while (i < nWindows) {
      val len = math.min(k, n - i)
      val parts = new Array[UTF8String](math.max(len, 0))
      var j = 0
      while (j < len) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** One-pass token frequency stats for the repetition filters:
    * (n_tokens, n_distinct, top_count) via a single hash-map sweep —
    * replaces an array_sort + run-length aggregate (top count) plus an
    * array_distinct (distinct count), with identical values. */
  def tokenCounts(tokens: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = tokens.numElements()
    val freq = new java.util.HashMap[UTF8String, Int](n * 2)
    var top = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val v = tokens.getUTF8String(i)
        val c = freq.merge(v, 1, (a, b) => a + b)
        if (c > top) top = c
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, freq.size, top))
  }

  /** Jaccard over array<string> columns, replicating
    * size(intersect)/(size(a)+size(b)-size(intersect)) with RAW input
    * sizes and distinct intersection (array_intersect semantics);
    * 0.0 when the union is empty. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val bSet = new java.util.HashSet[UTF8String](nb * 2)
    var i = 0
    while (i < nb) { if (!b.isNullAt(i)) bSet.add(b.getUTF8String(i)); i += 1 }
    val seenA = new java.util.HashSet[UTF8String](na * 2)
    var inter = 0
    i = 0
    while (i < na) {
      if (!a.isNullAt(i)) {
        val v = a.getUTF8String(i)
        if (seenA.add(v) && bSet.contains(v)) inter += 1
      }
      i += 1
    }
    val uni = na.toLong + nb.toLong - inter
    if (uni == 0L) 0.0 else inter.toDouble / uni
  }

  /** Cosine similarity, replicating the exact double-op order of
    * dot/sqrt(dot)*sqrt(dot) with in-order accumulation (bit-identical to
    * the HOF composition, hence to the existing oracle matches). */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0L
    var i = 0
    while (i < n) { d += a.getLong(i) * b.getLong(i); i += 1 }
    d
  }

  /** Double dot product with in-order accumulation — bit-identical to
    * the `aggregate(zip_with(a, b, *), 0.0, +)` HOF composition. */
  def dotDouble(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var i = 0
    while (i < n) { d += a.getDouble(i) * b.getDouble(i); i += 1 }
    d
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var i = 0
    while (i < n) { d += a.getDouble(i) * b.getDouble(i); i += 1 }
    var na = 0.0
    i = 0
    val la = a.numElements()
    while (i < la) { val x = a.getDouble(i); na += x * x; i += 1 }
    var nb = 0.0
    i = 0
    val lb = b.numElements()
    while (i < lb) { val x = b.getDouble(i); nb += x * x; i += 1 }
    val norm = math.sqrt(na) * math.sqrt(nb)
    if (norm == 0.0) 0.0 else d / norm
  }

  /** Ids of the `n` centroids nearest to `v`: every centroid scored by
    * `cosine` rounded half-up to 9 places (SQL `round(x, 9)`), ranked by
    * score descending under Spark's double ordering (NaN greatest, -0.0
    * equal to 0.0), ties by the smaller id. A null `v` scores every
    * centroid equal, so it yields the ids in ascending order. Equal to
    * the `transform` + `array_sort` + `slice` composition it replaces,
    * element for element (pinned in SimilaritySpec). */
  def nearestCells(v: ArrayData, cids: Array[Long], cents: Array[ArrayData], n: Int): ArrayData = {
    val k = cids.length
    val s = new Array[Double](k)
    var i = 0
    if (v != null) while (i < k) {
      val c = cosine(v, cents(i))
      s(i) =
        if (c.isNaN || c.isInfinite) c
        else BigDecimal(c).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      i += 1
    }
    // stable insertion sort of centroid positions (k is tens)
    val order = new Array[Int](k)
    i = 0
    while (i < k) {
      var j = i
      while (j > 0 && {
        val o = order(j - 1)
        val bySim = SQLOrderingUtil.compareDoubles(s(o), s(i))
        bySim < 0 || (bySim == 0 && cids(i) < cids(o))
      }) {
        order(j) = order(j - 1)
        j -= 1
      }
      order(j) = i
      i += 1
    }
    val out = new Array[Long](math.min(n, k))
    i = 0
    while (i < out.length) { out(i) = cids(order(i)); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `dot_long(array<long>, array<long>) -> long`: exact integer dot
  * product as one fused loop. The `aggregate(zip_with(a, b, *), ...)`
  * composition computes the same value but allocates an intermediate
  * array per pair — this kernel is for pair-join hot paths (within-
  * cluster semantic dedup, quantized reranking) where that allocation
  * dominates. */
case class DotLongExpr(left: Expression, right: Expression) extends BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchUtil.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.SketchUtil.dotLong($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotLongExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_long"
}

/** `dot_double(array<double>, array<double>) -> double`: the double
  * twin of [[DotLongExpr]] — one fused loop, in-order accumulation
  * (bit-identical to the HOF composition, hence to every existing
  * oracle match), no intermediate zip_with array per pair. Backs
  * `VectorFunctions.dot`, whose per-PAIR hot site is the brute-force
  * MIPS join (round-11 HOF audit: the last per-pair vector HOF after
  * CosineSim and AdcDist went native). */
case class DotDoubleExpr(left: Expression, right: Expression) extends BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchUtil.dotDouble(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.SketchUtil.dotDouble($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotDoubleExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_double"
}

/** `word_shingles(array<string>, k) -> array<string>`. */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression
    with ImplicitCastInputTypes {
  require(k >= 1, "shingle size >= 1")
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchUtil.wordShingles(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.SketchUtil.wordShingles($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

/** `token_counts(array<string>) -> struct<n_tokens:int, n_distinct:int,
  * top_count:int>` — the repetition-filter kernel, one hash-map pass. */
case class TokenCounts(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("top_count", IntegerType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    SketchUtil.tokenCounts(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.SketchUtil.tokenCounts($c);")

  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)

  override def prettyName: String = "token_counts"
}

/** `jaccard_sim(array, array) -> double`. */
case class JaccardSim(left: Expression, right: Expression) extends BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchUtil.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.SketchUtil.jaccard($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "jaccard_sim"
}

/** `simhash64(array<string>) -> long`. */
case class SimHash64(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SketchUtil.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.SketchUtil.simhash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

/** `minhash_sig(array<string>, k, seed) -> array<long>` (null on empty). */
case class MinHashSig(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    SketchUtil.minhashSig(input.asInstanceOf[ArrayData], numHashes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.expressions.SketchUtil.minhashSig($c, $numHashes, ${seed}L);
      |${ev.isNull} = ${ev.value} == null;
      """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

/** `hyperplane_sig(array<double>) -> long` against literal seeded planes. */
case class HyperplaneSig(child: Expression, planes: Array[Double], dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType))
  require(planes.length % dim == 0 && planes.length / dim <= 64, "<= 64 planes")
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SketchUtil.hyperplaneSig(input.asInstanceOf[ArrayData], planes, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.SketchUtil.hyperplaneSig($c, $ref, $dim);")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)

  override def prettyName: String = "hyperplane_sig"
}

/** `cosine_sim(array<double>, array<double>) -> double`. */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchUtil.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.SketchUtil.cosine($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

/** `nearest_cells(array<double>) -> array<long>`: the ids of the `n`
  * centroids nearest to the vector ([[SketchUtil.nearestCells]]), the
  * IVF coarse quantizer. The centroids are fields, not a literal child:
  * plan strings print `nearest_cells(vec, 16 cells, 6)` rather than every
  * coordinate, and equal centroid lists compare equal, so
  * canonicalization and exchange reuse still match equal expressions.
  * Never null: a null vector yields the ids in ascending order. */
case class NearestCells(child: Expression, cids: Seq[Long], centroids: Seq[Seq[Double]], n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(cids.length == centroids.length, "one id per centroid")
  require(n >= 0, s"n must be >= 0; got $n")
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  @transient private lazy val cidArr: Array[Long] = cids.toArray
  @transient private lazy val centArr: Array[ArrayData] =
    centroids.map(c => UnsafeArrayData.fromPrimitiveArray(c.toArray): ArrayData).toArray

  override def eval(input: InternalRow): Any =
    SketchUtil.nearestCells(child.eval(input).asInstanceOf[ArrayData], cidArr, centArr, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ids = ctx.addReferenceObj("cellIds", cidArr, "long[]")
    val cents = ctx.addReferenceObj("cellCentroids", centArr,
      "org.apache.spark.sql.catalyst.util.ArrayData[]")
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} = graft.functions.expressions.SketchUtil.nearestCells(
      |  ${c.isNull} ? null : ${c.value}, $ids, $cents, $n);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)

  override def prettyName: String = "nearest_cells"

  override def toString: String = s"$prettyName($child, ${cids.length} cells, $n)"
}

object Sketches {
  /** Column entry points. Inputs must already be the right element types
    * (`array<string>` tokens/shingles, `array<double>` vectors). */
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))

  def minhashSig(shingles: Column, numHashes: Int, seed: Long): Column =
    ColumnBridge.column(
      MinHashSig(ColumnBridge.expression(shingles), numHashes, seed))

  def hyperplaneSig(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val dim = planes.head.length
    ColumnBridge.column(
      HyperplaneSig(ColumnBridge.expression(vec), planes.flatten.toArray, dim))
  }

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** array<double> input only; centroids as (id, vector). */
  def nearestCells(vec: Column, centroids: Seq[(Long, Seq[Double])], n: Int): Column =
    ColumnBridge.column(NearestCells(ColumnBridge.expression(vec),
      centroids.map(_._1), centroids.map(_._2), n))

  /** array<long> inputs only. */
  def dotLong(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotLongExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** array<double> inputs only. */
  def dotDouble(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotDoubleExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def wordShingles(tokens: Column, k: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(tokens), k))

  /** array<string> inputs only. */
  def jaccardSim(a: Column, b: Column): Column =
    ColumnBridge.column(
      JaccardSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def tokenCounts(tokens: Column): Column =
    ColumnBridge.column(TokenCounts(ColumnBridge.expression(tokens)))
}
