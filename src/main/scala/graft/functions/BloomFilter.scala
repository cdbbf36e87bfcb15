package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Bloom-filter join pruning: `graft_bloom_agg(hash, numBits)` builds a
  * filter over one (already filtered/computed) join side; rows of the
  * other side failing `graft_bloom_contains(filter, hash)` cannot join
  * and are dropped BEFORE the shuffle. No false negatives, so a
  * downstream exact join returns exactly the plain join's rows — the
  * filter only sheds shuffle volume.
  *
  * This is the explicit form of what AQE's runtime bloom filter
  * injects for plannable shuffle joins; the explicit operator covers
  * what that can't: a dimension side that is itself the result of a
  * computation, a filter reused across several queries/jobs, or one
  * shipped to a different system. At 100 TB the aggregate's fixed-size
  * buffer (numBits/8 bytes per task, OR-merged) is the entire build
  * cost, and the probe is codegen'd into the scan stage.
  *
  * Layout: numBits rounded up to a power of two; 6 probe positions per
  * item via Kirsch-Mitzenmacher double hashing of the 64-bit input
  * (callers pass `xxhash64(cols...)`). FP rate for n items over m bits
  * is ~(1 - e^(-6n/m))^6 — ~1.6e-4 at n = m/16.
  */
object BloomBytes {
  val Probes = 6

  def indexPair(x: Long): (Long, Long) = {
    // finalize-mix so consecutive keys spread; h2 forced odd
    val h1 = java.lang.Long.rotateLeft(x * 0x9E3779B97F4A7C15L, 31) * 0xC2B2AE3D27D4EB4FL
    val h2 = (x * 0xFF51AFD7ED558CCDL) | 1L
    (h1, h2)
  }

  def add(bits: Array[Long], mask: Long, x: Long): Unit = {
    val (h1, h2) = indexPair(x)
    var i = 0
    while (i < Probes) {
      val idx = (h1 + i * h2) & mask
      bits((idx >>> 6).toInt) |= (1L << (idx & 63))
      i += 1
    }
  }

  /** Probe `bytes` (little-endian long words) for `x`. Called from both
    * interpreted eval and generated code. */
  def contains(bytes: Array[Byte], x: Long): Boolean = {
    val nWords = bytes.length >>> 3
    val mask = (nWords.toLong << 6) - 1
    val (h1, h2) = indexPair(x)
    var i = 0
    while (i < Probes) {
      val idx = (h1 + i * h2) & mask
      val word = readWord(bytes, (idx >>> 6).toInt)
      if ((word & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def readWord(bytes: Array[Byte], w: Int): Long = {
    val base = w << 3
    var v = 0L
    var i = 0
    while (i < 8) {
      v |= (bytes(base + i) & 0xffL) << (i * 8)
      i += 1
    }
    v
  }

  def toBytes(bits: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](bits.length * 8)
    var w = 0
    while (w < bits.length) {
      val v = bits(w)
      var i = 0
      while (i < 8) {
        out((w << 3) + i) = ((v >>> (i * 8)) & 0xff).toByte
        i += 1
      }
      w += 1
    }
    out
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val bits = new Array[Long](bytes.length >>> 3)
    var w = 0
    while (w < bits.length) {
      bits(w) = readWord(bytes, w)
      w += 1
    }
    bits
  }
}

/** Aggregate: OR-merged bit array over `xxhash64`-style long inputs.
  * SQL: `graft_bloom_agg(hash, numBits)` → binary. */
case class BloomAgg(
    hashExpr: Expression,
    numBitsExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with ImplicitCastInputTypes {

  private lazy val numWords: Int = {
    require(numBitsExpr.foldable, "graft_bloom_agg: numBits must be a literal")
    val v = numBitsExpr.eval(null)
    require(v != null && v.asInstanceOf[Int] >= 64,
      "graft_bloom_agg: numBits must be a literal >= 64")
    // round the WORD count up to a power of two so probe indices mask
    // instead of mod; long arithmetic — int math near Int.MaxValue
    // would overflow negative and silently collapse the filter to one
    // word
    val words = (v.asInstanceOf[Int].toLong + 63L) / 64L
    val pow2 = java.lang.Long.highestOneBit(words * 2L - 1L)
    require(pow2 <= (1L << 24),
      s"graft_bloom_agg: numBits ${v} implies $pow2 words (> 128 MiB buffer); lower it")
    pow2.toInt
  }
  private def mask: Long = (numWords.toLong << 6) - 1

  override def children: Seq[Expression] = Seq(hashExpr, numBitsExpr)
  // (return type inferred — AbstractDataType is private[sql])
  override def inputTypes = Seq(LongType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bloom_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numWords)

  override def update(bits: Array[Long], input: InternalRow): Array[Long] = {
    val h = hashExpr.eval(input)
    if (h != null) BloomBytes.add(bits, mask, h.asInstanceOf[Long])
    bits
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(bits: Array[Long]): Any = BloomBytes.toBytes(bits)
  override def serialize(bits: Array[Long]): Array[Byte] = BloomBytes.toBytes(bits)
  override def deserialize(bytes: Array[Byte]): Array[Long] = BloomBytes.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): BloomAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BloomAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BloomAgg =
    copy(hashExpr = newChildren(0), numBitsExpr = newChildren(1))
}

/** Membership probe with real codegen: stays inside whole-stage codegen
  * so the prune runs in the scan stage, not a separate interpreted
  * projection. SQL: `graft_bloom_contains(filter, hash)` → boolean. */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // (return type inferred — AbstractDataType is private[sql])
  override def inputTypes = Seq(BinaryType, LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override protected def nullSafeEval(bloom: Any, hash: Any): Any =
    BloomBytes.contains(bloom.asInstanceOf[Array[Byte]], hash.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bloom, hash) =>
      s"${ev.value} = graft.functions.BloomBytes.contains($bloom, $hash);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomContains =
    copy(left = l, right = r)
}

object BloomAgg extends NativeFunction {
  val Info: ExpressionInfo = new ExpressionInfo(
    classOf[BloomAgg].getCanonicalName, null, "graft_bloom_agg",
    "_FUNC_(hash, numBits) - bloom filter over 64-bit hashes as binary", "")

  val Builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"graft_bloom_agg expects 2 arguments, got ${exprs.length}")
    BloomAgg(exprs.head, exprs(1))
  }
}

object BloomContains extends NativeFunction {
  val Info: ExpressionInfo = new ExpressionInfo(
    classOf[BloomContains].getCanonicalName, null, "graft_bloom_contains",
    "_FUNC_(filter, hash) - true if hash may be in the bloom filter (no false negatives)", "")

  val Builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"graft_bloom_contains expects 2 arguments, got ${exprs.length}")
    BloomContains(exprs.head, exprs(1))
  }
}
