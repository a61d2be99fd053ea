package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bloom filter as a custom `TypedImperativeAggregate` + a codegen'd
  * membership probe — the runtime-filter primitive behind
  * [[graft.operators.Joins.bloomPrunedJoin]]: build a fixed-size bitset
  * over the small/filtered side's join keys in ONE aggregation pass
  * (mergeable by bitwise OR — order-free), broadcast the bytes, and
  * prefilter the big side BEFORE its shuffle. No false negatives, so the
  * pruned join's result is IDENTICAL to the plain join (the q55 oracle is
  * literally the plain join SQL); false positives only cost wasted
  * shuffle rows, bounded by (1-e^(-kn/m))^k.
  *
  * Spark's own `InjectRuntimeFilter` applies the same idea, but only
  * under narrow plan preconditions (creation-side selective filter,
  * size thresholds, no DPP overlap); this makes the pattern an explicit,
  * composable operator.
  *
  * Hashing: Kirsch-Mitzenmacher double hashing — k indices
  * (h1 + i*h2) mod m from two XXH64 evaluations (seeds 42 and 42+1e9+7),
  * m a power of two. Deterministic and engine-independent.
  *
  * At 100 TB: the build side state is `m/8` bytes per task (1 MB default)
  * merged by OR; the probe is branch-free bit math inside whole-stage
  * codegen — the big side is never shuffled for rows that cannot match.
  */
case class BloomAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with ImplicitCastInputTypes
  with UnaryLike[Expression] {

  require(Integer.bitCount(numBits) == 1 && numBits >= 64,
    s"numBits must be a power of two >= 64, got $numBits")
  require(numHashes >= 1 && numHashes <= 16, s"numHashes in [1,16], got $numHashes")

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v != null) Bloom.insert(buf, v.asInstanceOf[Long], numBits, numHashes)
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = serialize(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomAgg =
    copy(child = newChild)
}

/** `bloom_might_contain(filterBytes, value) -> boolean`. */
case class BloomMightContain(left: Expression, right: Expression, numHashes: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType, LongType)
  override def dataType: DataType = BooleanType

  override def nullSafeEval(bytes: Any, v: Any): Any =
    Bloom.mightContainBytes(
      bytes.asInstanceOf[Array[Byte]], v.asInstanceOf[Long], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, v) =>
      s"${ev.value} = graft.functions.expressions.Bloom.mightContainBytes($b, $v, $numHashes);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "bloom_might_contain"
}

/** Union aggregate over PERSISTED [[BloomAgg]] filter bytes: bytewise
  * OR — associative, commutative, IDEMPOTENT (a replayed batch re-ORs
  * the same bits), so incremental filter maintenance tolerates replays
  * with no extra fencing. All inputs must share one size (the `m` of
  * the build); the first non-null sketch fixes it, a mismatch is a
  * hard error. Empty group evaluates to an empty filter (0 bytes) —
  * nothing was ever inserted, so `might_contain` over it would be
  * meaningless; callers gate on it like an empty relation. */
case class BloomUnion(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]]
  with ImplicitCastInputTypes
  with UnaryLike[Expression] {

  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_union"

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def orInto(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (b.isEmpty) a
    else if (a.isEmpty) b.clone()
    else {
      require(a.length == b.length,
        s"bloom filters must share one size, got ${a.length} vs ${b.length} bytes")
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }

  override def update(buf: Array[Byte], row: InternalRow): Array[Byte] = {
    val v = child.eval(row)
    if (v != null) orInto(buf, v.asInstanceOf[Array[Byte]]) else buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = orInto(a, b)

  override def eval(buf: Array[Byte]): Any = buf.clone()
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomUnion =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomUnion =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomUnion =
    copy(child = newChild)
}

object BloomUnion {
  def apply(c: Column): Column =
    ColumnBridge.column(
      BloomUnion(ColumnBridge.expression(c)).toAggregateExpression())
}

object Bloom {
  /** second hash seed (first is SketchUtil.SparkSeed = 42). */
  final val Seed2: Long = 42L + 1000000007L

  def insert(words: Array[Long], v: Long, numBits: Int, k: Int): Array[Long] = {
    val h1 = XXH64.hashLong(v, SketchUtil.SparkSeed)
    val h2 = XXH64.hashLong(v, Seed2)
    var i = 0
    while (i < k) {
      val bit = ((h1 + i * h2) & (numBits - 1)).toInt
      words(bit >>> 6) |= (1L << (bit & 63))
      i += 1
    }
    words
  }

  def mightContainBytes(bytes: Array[Byte], v: Long, k: Int): Boolean = {
    val numBits = bytes.length * 8
    val h1 = XXH64.hashLong(v, SketchUtil.SparkSeed)
    val h2 = XXH64.hashLong(v, Seed2)
    var i = 0
    while (i < k) {
      val bit = ((h1 + i * h2) & (numBits - 1)).toInt
      // little-endian within the serialized long words (ByteBuffer is
      // big-endian per 8-byte word; recover the word then mask)
      val word = bit >>> 6
      var w = 0L
      var j = 0
      while (j < 8) { w = (w << 8) | (bytes(word * 8 + j) & 0xffL); j += 1 }
      if ((w & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Filter size for `rows` keys: the smallest power of two >= 16 bits
    * per key and >= 64 (a ~0.24% false-positive rate at k = 4). */
  def bitsFor(rows: Long): Long =
    java.lang.Long.highestOneBit(math.max(64L, 16L * rows) - 1) << 1

  /** Filter `bytes` folded down to `numBits` (a power of two >= 64) by
    * OR-ing its upper half onto its lower half: bits are addressed
    * `& (numBits - 1)`, so the result equals the filter an [[agg]] at
    * `numBits` builds over the same keys. */
  @annotation.tailrec
  def fold(bytes: Array[Byte], numBits: Int): Array[Byte] =
    if (bytes.length * 8 <= numBits) bytes
    else {
      val h = bytes.length / 2
      fold(Array.tabulate(h)(i => (bytes(i) | bytes(i + h)).toByte), numBits)
    }

  /** `bloomAgg(keyCol)` in an `agg(...)`: build the filter's bytes. */
  def agg(c: Column, numBits: Int = 1 << 23, numHashes: Int = 4): Column =
    ColumnBridge.column(
      BloomAgg(ColumnBridge.expression(c), numBits, numHashes).toAggregateExpression())

  /** membership probe over the aggregated bytes. */
  def mightContain(bloom: Column, v: Column, numHashes: Int = 4): Column =
    ColumnBridge.column(
      BloomMightContain(
        ColumnBridge.expression(bloom), ColumnBridge.expression(v), numHashes))

  /** membership probe against materialized filter bytes embedded as a
    * plan literal — codegen references ONE constant array (no per-row
    * binary-column copy; see [[graft.operators.Joins.bloomPrunedJoin]]). */
  def mightContainLit(bloom: Array[Byte], v: Column, numHashes: Int = 4): Column =
    ColumnBridge.column(
      BloomMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bloom, BinaryType),
        ColumnBridge.expression(v), numHashes))
}
