package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.{ByteArray, UTF8String}

/** Deterministic bottom-k sample aggregate: keeps the `k` rows with the
  * SMALLEST (key, value) — used with a cryptographic-hash key this is a
  * consistent, order-independent, mergeable group sample (the classic
  * bottom-k sketch): the same rows are selected no matter how the data
  * is partitioned, re-run, or incrementally merged.
  *
  * Why a TypedImperativeAggregate and not a rank-window: a window
  * formulation shuffles EVERY row to its group's partitions before
  * ranking; this aggregate keeps a size-k buffer per group per task and
  * shuffles only k rows per partition per group (partial map-side
  * combine) — at 100 TB that is the difference between sampling and
  * re-shuffling the corpus. Semantics are identical (spec-checked
  * against the window formulation).
  *
  * SQL: `graft_bottomk(key, value, k)` → `array<struct<key, value>>`
  * sorted ascending. key: string (e.g. `sha2(id, 256)`), value: long.
  */
case class BottomK(
    keyExpr: Expression,
    valueExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BottomK.Buffer] with ImplicitCastInputTypes {

  private lazy val k: Int = {
    require(kExpr.foldable, "graft_bottomk: k must be a literal")
    val v = kExpr.eval(null)
    require(v != null && v.asInstanceOf[Int] > 0, "graft_bottomk: k must be a positive literal")
    v.asInstanceOf[Int]
  }

  override def children: Seq[Expression] = Seq(keyExpr, valueExpr, kExpr)
  // (return type inferred — AbstractDataType is private[sql])
  override def inputTypes = Seq(StringType, LongType, IntegerType)
  override def dataType: DataType = ArrayType(new StructType()
    .add("key", StringType).add("value", LongType), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bottomk"

  override def createAggregationBuffer(): BottomK.Buffer = new BottomK.Buffer

  override def update(buf: BottomK.Buffer, input: InternalRow): BottomK.Buffer = {
    val key = keyExpr.eval(input)
    val value = valueExpr.eval(input)
    if (key != null && value != null) {
      // defensive copy: getBytes may return the UNDERLYING buffer of a
      // reused input row, which mutates after this call returns
      val kb = key.asInstanceOf[UTF8String].getBytes
      buf.offer(java.util.Arrays.copyOf(kb, kb.length), value.asInstanceOf[Long], k)
    }
    buf
  }

  override def merge(buf: BottomK.Buffer, other: BottomK.Buffer): BottomK.Buffer = {
    other.entries.foreach { e => buf.offer(e.key, e.value, k) }
    buf
  }

  override def eval(buf: BottomK.Buffer): Any = {
    val sorted = buf.entries.sorted(BottomK.EntryOrdering)
    val rows: Array[Any] = sorted.map { e =>
      InternalRow(UTF8String.fromBytes(e.key), e.value): Any
    }.toArray
    new GenericArrayData(rows): ArrayData
  }

  override def serialize(buf: BottomK.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.entries.length)
    buf.entries.foreach { e =>
      // length-prefixed raw bytes: writeUTF caps at 65535 UTF-8 bytes
      // and would crash on long keys
      out.writeInt(e.key.length); out.write(e.key); out.writeLong(e.value)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BottomK.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new BottomK.Buffer
    val n = in.readInt()
    (1 to n).foreach { _ =>
      val len = in.readInt()
      val key = new Array[Byte](len)
      in.readFully(key)
      b.entries += BottomK.Entry(key, in.readLong())
    }
    b.refreshWorst() // offer() needs the threshold restored
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): BottomK =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BottomK =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BottomK =
    copy(keyExpr = newChildren(0), valueExpr = newChildren(1), kExpr = newChildren(2))
}

object BottomK extends NativeFunction {

  /** One sample entry: key as RAW UTF-8 BYTES so ordering is unsigned
    * byte-lexicographic — the collation Spark's UTF8String sort and
    * DuckDB's VARCHAR sort use, compared by Spark's own binary
    * comparator. Java String compareTo orders by UTF-16 code units,
    * which DISAGREES for supplementary-plane characters and would
    * break the documented rank-window equivalence. */
  final case class Entry(key: Array[Byte], value: Long)

  val EntryOrdering: Ordering[Entry] = new Ordering[Entry] {
    override def compare(a: Entry, b: Entry): Int = {
      val d = ByteArray.compareBinary(a.key, b.key)
      if (d != 0) d else java.lang.Long.compare(a.value, b.value)
    }
  }

  /** Size-capped buffer of entries, smallest kept. A flat ArrayBuffer
    * with a cached worst-entry threshold: k is small (a sample size),
    * so O(k) replacement beats heap constant factors and serializes
    * trivially. */
  final class Buffer {
    val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]
    private var worst: Entry = null

    def offer(key: Array[Byte], value: Long, k: Int): Unit = {
      val e = Entry(key, value)
      if (entries.length < k) {
        entries += e
        if (worst == null || EntryOrdering.gt(e, worst)) worst = e
      } else if (EntryOrdering.lt(e, worst)) {
        val i = entries.indexOf(worst)
        entries(i) = e
        worst = entries.max(EntryOrdering)
      }
    }

    /** Restore the threshold after deserialization (offer() relies on
      * it once the buffer is full). */
    def refreshWorst(): Unit =
      if (entries.nonEmpty) worst = entries.max(EntryOrdering)
  }

  val Info: ExpressionInfo = new ExpressionInfo(
    classOf[BottomK].getCanonicalName, null, "graft_bottomk",
    "_FUNC_(key, value, k) - the k entries with the smallest (key, value), sorted", "")

  val Builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 3, s"graft_bottomk expects 3 arguments, got ${exprs.length}")
    BottomK(exprs.head, exprs(1), exprs(2))
  }
}
