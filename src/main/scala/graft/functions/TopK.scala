package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Top-k-per-group aggregate: keeps the `k` rows with the LARGEST
  * `(score, tag)` under (score DESC, tag ASC) — the ordering of the
  * classic "top-k by score with a total tie-break" rank window — while
  * carrying an opaque `extra` payload alongside each kept row.
  *
  * Why a TypedImperativeAggregate and not a rank window: a
  * `row_number() OVER (PARTITION BY g ORDER BY score DESC, tag)`
  * formulation shuffles EVERY candidate row to its group's partition
  * and sorts there; this aggregate keeps a size-k buffer per group per
  * task and shuffles at most k rows per partition per group (partial
  * map-side combine). For text_keywords that is the difference between
  * shuffling every distinct (doc, token) pair in the corpus and
  * shuffling 3 rows per document per task. Semantics are identical
  * (spec-checked against the window formulation).
  *
  * Ordering details, pinned so the result hash-matches a DuckDB
  * `ORDER BY score DESC, tag` oracle:
  *  - scores compare as IEEE doubles with −0.0 and 0.0 TIED (the
  *    window-sort and ORDER BY convention — see EntryOrdering) and
  *    NaN sorting ABOVE +Inf (DESC puts NaN first, DuckDB's
  *    NaN-is-largest convention);
  *  - tags compare as raw UTF-8 bytes (unsigned byte-lexicographic),
  *    the collation both Spark's UTF8String sort and DuckDB's VARCHAR
  *    sort use — Java String compareTo would disagree on
  *    supplementary-plane characters;
  *  - `extra` participates last, only to keep the ordering total when
  *    a caller supplies duplicate (score, tag) pairs.
  *
  * SQL: `graft_topk(score, tag, extra, k)` →
  * `array<struct<score double, tag string, extra string>>` sorted by
  * (score DESC, tag ASC). Rows with a null score or tag are skipped;
  * a null extra is kept as an empty string.
  *
  * Deliberately mirrors BottomK's buffer/serialization shape rather
  * than sharing it: the two orderings and entry layouts differ, both
  * are independently gate-pinned, and the duplicated mechanics are
  * ~100 lines of stable code — a shared abstraction would couple two
  * frozen contracts to one implementation.
  */
case class TopK(
    scoreExpr: Expression,
    tagExpr: Expression,
    extraExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopK.Buffer] with ImplicitCastInputTypes {

  private lazy val k: Int = {
    require(kExpr.foldable, "graft_topk: k must be a literal")
    val v = kExpr.eval(null)
    require(v != null && v.asInstanceOf[Int] > 0, "graft_topk: k must be a positive literal")
    v.asInstanceOf[Int]
  }

  override def children: Seq[Expression] = Seq(scoreExpr, tagExpr, extraExpr, kExpr)
  // (return type inferred — AbstractDataType is private[sql])
  override def inputTypes = Seq(DoubleType, StringType, StringType, IntegerType)
  override def dataType: DataType = ArrayType(new StructType()
    .add("score", DoubleType).add("tag", StringType).add("extra", StringType),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): TopK.Buffer = new TopK.Buffer

  override def update(buf: TopK.Buffer, input: InternalRow): TopK.Buffer = {
    val score = scoreExpr.eval(input)
    val tag = tagExpr.eval(input)
    if (score != null && tag != null) {
      val extra = extraExpr.eval(input)
      // defensive copies: getBytes may return the UNDERLYING buffer of
      // a reused input row, which mutates after this call returns
      val tb = tag.asInstanceOf[UTF8String].getBytes
      val eb =
        if (extra == null) Array.emptyByteArray
        else extra.asInstanceOf[UTF8String].getBytes
      buf.offer(TopK.Entry(
        score.asInstanceOf[Double],
        java.util.Arrays.copyOf(tb, tb.length),
        java.util.Arrays.copyOf(eb, eb.length)), k)
    }
    buf
  }

  override def merge(buf: TopK.Buffer, other: TopK.Buffer): TopK.Buffer = {
    other.entries.foreach { e => buf.offer(e, k) }
    buf
  }

  override def eval(buf: TopK.Buffer): Any = {
    val sorted = buf.entries.sorted(TopK.EntryOrdering)
    val rows: Array[Any] = sorted.map { e =>
      InternalRow(e.score, UTF8String.fromBytes(e.tag), UTF8String.fromBytes(e.extra)): Any
    }.toArray
    new GenericArrayData(rows): ArrayData
  }

  override def serialize(buf: TopK.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.entries.length)
    buf.entries.foreach { e =>
      out.writeDouble(e.score)
      // length-prefixed raw bytes: writeUTF caps at 65535 UTF-8 bytes
      out.writeInt(e.tag.length); out.write(e.tag)
      out.writeInt(e.extra.length); out.write(e.extra)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopK.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new TopK.Buffer
    val n = in.readInt()
    (1 to n).foreach { _ =>
      val score = in.readDouble()
      val tag = new Array[Byte](in.readInt()); in.readFully(tag)
      val extra = new Array[Byte](in.readInt()); in.readFully(extra)
      b.entries += TopK.Entry(score, tag, extra)
    }
    b.refreshWorst()
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopK =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopK =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopK =
    copy(scoreExpr = newChildren(0), tagExpr = newChildren(1),
      extraExpr = newChildren(2), kExpr = newChildren(3))
}

object TopK {

  final case class Entry(score: Double, tag: Array[Byte], extra: Array[Byte])

  private def byteCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** (score DESC, tag ASC, extra ASC): smallest-first sort order of the
    * RESULT — so "the k smallest under this ordering" are the top-k.
    * The primitive == pre-test makes -0.0 and 0.0 TIE (falling through
    * to the tag), matching Spark's nanSafeCompareDoubles window sort
    * and DuckDB's ORDER BY — bare Double.compare would rank 0.0 above
    * -0.0 and silently diverge from the rank-window/oracle ordering
    * the docstring promises. NaN still sorts above +Inf (both
    * engines' convention), and NaN ties NaN on the tag. */
  val EntryOrdering: Ordering[Entry] = new Ordering[Entry] {
    override def compare(a: Entry, b: Entry): Int = {
      val s = if (a.score == b.score) 0 else java.lang.Double.compare(b.score, a.score)
      if (s != 0) return s
      val t = byteCompare(a.tag, b.tag)
      if (t != 0) t else byteCompare(a.extra, b.extra)
    }
  }

  /** Size-capped keep-best buffer (see BottomK.Buffer: k is small, so
    * O(k) replacement beats heap constant factors). */
  final class Buffer {
    val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]
    private var worst: Entry = null

    def offer(e: Entry, k: Int): Unit = {
      if (entries.length < k) {
        entries += e
        if (worst == null || EntryOrdering.gt(e, worst)) worst = e
      } else if (EntryOrdering.lt(e, worst)) {
        val i = entries.indexOf(worst)
        entries(i) = e
        worst = entries.max(EntryOrdering)
      }
    }

    def refreshWorst(): Unit =
      if (entries.nonEmpty) worst = entries.max(EntryOrdering)
  }

  val Info: ExpressionInfo = new ExpressionInfo(
    classOf[TopK].getCanonicalName, null, "graft_topk",
    "_FUNC_(score, tag, extra, k) - the k entries with the largest (score, tag), sorted desc", "")

  val Builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 4, s"graft_topk expects 4 arguments, got ${exprs.length}")
    TopK(exprs.head, exprs(1), exprs(2), exprs(3))
  }
}
