package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the distinct 64-bit hashes of a text's
  * word n-grams — `array<bigint>`, one element per distinct gram hash,
  * in first-occurrence order. Null text gives null.
  *
  * Why an Expression and not the builtin formulation
  * `xxhash64(explode(wordNgramStructs(wsTokens(text), n)))`: that one
  * splits into a string array, runs interpreted `transform` lambdas
  * per window (slice + concat_ws), takes array_distinct over the gram
  * strings and builds one struct per gram. This walks the UTF-8 bytes
  * once, copies each window into one reused byte buffer and hashes it
  * in place, so no token or gram String is ever allocated.
  *
  * Semantics replicated exactly (pinned row-for-row against the
  * builtin formulation by DedupSpec, adversarial whitespace included):
  *  - tokens = `split(trim(text), "\\s+", -1)`, empty when the trimmed
  *    text is empty (TextFunctions.wsTokens). Spark `trim` strips 0x20
  *    only and split keeps limit −1's edge tokens, so trimmed text that
  *    starts (ends) with \t\n\x0B\f\r has a leading (trailing) empty
  *    token. Whitespace is Java's ASCII `\s` = {9..13, 32}; those bytes
  *    never occur inside a multi-byte UTF-8 sequence, so a byte scan
  *    splits exactly where the regex does (valid UTF-8 assumed, as
  *    parquet strings are).
  *  - gram i = `concat_ws(" ", tokens[i .. i+n))`; a text with fewer
  *    than n tokens has no grams.
  *  - hash = `xxhash64(gram)` (seed 42, the UTF-8 bytes).
  *
  * Distinct is taken on the HASHES, not the gram strings: two distinct
  * grams of one doc whose 64-bit hashes collide count once. Callers
  * that need one row per (doc, gram hash) — DedupQueries.ngramDocArrays
  * sizes its arrays from `size` of this array — get that by
  * construction; a collision merges two grams instead of breaking the
  * one-row-per-gram precondition.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"graft_shingle_hashes: n must be >= 1, got $n")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(s: Any): Any =
    ShingleHashes.Kernel.hashes(s.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val kernel = ctx.addReferenceObj("graftShingles", ShingleHashes.Kernel,
        ShingleHashes.Kernel.getClass.getName)
      s"${ev.value} = $kernel.hashes($c, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes extends NativeFunction {

  /** `xxhash64`'s default seed. */
  private val Seed = 42L

  /** The byte walker; a serializable singleton so codegen can hold it
    * in the references array. Stateless: every buffer is per call. */
  object Kernel extends Serializable {

    private def isAsciiWs(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

    def hashes(u: UTF8String, n: Int): UnsafeArrayData = {
      val base = u.getBaseObject
      val off = u.getBaseOffset
      def at(i: Int): Byte = Platform.getByte(base, off + i)
      var i0 = 0
      var i1 = u.numBytes
      while (i0 < i1 && at(i0) == ' ') i0 += 1
      while (i1 > i0 && at(i1 - 1) == ' ') i1 -= 1
      if (i0 == i1) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

      // pass 1: token count — one more token than whitespace runs
      var tokens = 1
      var i = i0
      while (i < i1) {
        if (isAsciiWs(at(i))) {
          tokens += 1
          while (i < i1 && isAsciiWs(at(i))) i += 1
        } else i += 1
      }
      if (tokens < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

      // pass 2: a ring of the last n token bounds; every token from
      // the n-th on closes a window. A gram is never longer than the
      // trimmed span (each separator run shrinks to one space).
      val out = new Array[Long](tokens - n + 1)
      var size = 0
      val seen = new scala.collection.mutable.LongMap[Unit](2 * out.length)
      val buf = new Array[Byte](i1 - i0)
      val starts = new Array[Int](n)
      val ends = new Array[Int](n)
      var t = 0
      def token(s: Int, e: Int): Unit = {
        starts(t % n) = s
        ends(t % n) = e
        t += 1
        if (t >= n) {
          var len = 0
          var k = t - n
          while (k < t) {
            val s0 = starts(k % n)
            val l = ends(k % n) - s0
            Platform.copyMemory(base, off + s0, buf, Platform.BYTE_ARRAY_OFFSET + len, l)
            len += l
            if (k < t - 1) { buf(len) = ' '; len += 1 }
            k += 1
          }
          val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, Seed)
          if (!seen.contains(h)) {
            seen.update(h, ())
            out(size) = h
            size += 1
          }
        }
      }
      var start = i0
      i = i0
      while (i < i1) {
        if (isAsciiWs(at(i))) {
          token(start, i)
          while (i < i1 && isAsciiWs(at(i))) i += 1
          start = i
        } else i += 1
      }
      token(start, i1)
      UnsafeArrayData.fromPrimitiveArray(out, Platform.LONG_ARRAY_OFFSET, size, 8)
    }
  }

  val Info: ExpressionInfo = new ExpressionInfo(
    classOf[ShingleHashes].getCanonicalName, null, "graft_shingle_hashes",
    "_FUNC_(text, n) - distinct xxhash64 values of the word n-grams of text: array<bigint>", "")

  val Builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"graft_shingle_hashes expects 2 arguments, got ${exprs.length}")
    val n = exprs(1)
    require(n.foldable && n.dataType == IntegerType,
      "graft_shingle_hashes: n must be an integer literal")
    ShingleHashes(exprs.head, n.eval().asInstanceOf[Int])
  }
}
