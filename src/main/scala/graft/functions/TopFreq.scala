package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.{ByteArray, UTF8String}

/** SpaceSaving heavy-hitters aggregate (Metwally et al. '05, merge per
  * Agarwal et al. "Mergeable Summaries" '12): a fixed-capacity summary
  * of the most frequent items, mergeable across partitions.
  *
  * Guarantees (capacity k over n updates):
  *  - every item with true count > n/k is present;
  *  - each reported `cnt` is an overestimate: true <= cnt <= true + err;
  *  - when the summary NEVER fills (distinct values <= k, any merge
  *    order), counts are exact and err = 0 — which is how the gate
  *    query pins it against an exact GROUP BY oracle while the same
  *    operator at 100 TB runs with k << distinct as a true sketch.
  *
  * Why a TypedImperativeAggregate: a groupBy-count + top-k shuffles one
  * row per DISTINCT value per task — at web scale the token vocabulary
  * is effectively unbounded (urls, ids, typos), so that shuffle grows
  * with the vocabulary. This summary shuffles at most k entries per
  * task, a fixed budget chosen up front, like the HLL/quantile sketches
  * in q_sketch_stats.
  *
  * Merge: counts of common items add; an item absent from one side
  * adds that side's minimum count (its maximum possible count there —
  * the SpaceSaving invariant) to both cnt and err; the union is then
  * trimmed back to the k largest. The minimum of a non-full summary
  * is 0, which is what makes the never-filled case exact.
  *
  * SQL: `graft_topfreq(item, k)` → `array<struct<item, cnt, err>>`
  * sorted by (cnt desc, item asc).
  */
case class TopFreq(
    itemExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopFreq.Buffer] with ImplicitCastInputTypes {

  private lazy val k: Int = {
    require(kExpr.foldable, "graft_topfreq: k must be a literal")
    val v = kExpr.eval(null)
    require(v != null && v.asInstanceOf[Int] > 0, "graft_topfreq: k must be a positive literal")
    v.asInstanceOf[Int]
  }

  override def children: Seq[Expression] = Seq(itemExpr, kExpr)
  // (return type inferred — AbstractDataType is private[sql])
  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(new StructType()
    .add("item", StringType).add("cnt", LongType).add("err", LongType),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topfreq"

  override def createAggregationBuffer(): TopFreq.Buffer = new TopFreq.Buffer

  override def update(buf: TopFreq.Buffer, input: InternalRow): TopFreq.Buffer = {
    val item = itemExpr.eval(input)
    if (item != null) {
      // defensive copy: getBytes may expose a reused row's buffer
      val b = item.asInstanceOf[UTF8String].getBytes
      buf.offer(java.util.Arrays.copyOf(b, b.length), 1L, 0L, k)
    }
    buf
  }

  override def merge(buf: TopFreq.Buffer, other: TopFreq.Buffer): TopFreq.Buffer = {
    buf.mergeIn(other, k)
    buf
  }

  override def eval(buf: TopFreq.Buffer): Any = {
    val rows: Array[Any] = buf.sortedEntries.map { e =>
      InternalRow(UTF8String.fromBytes(e.item), e.cnt, e.err): Any
    }.toArray
    new GenericArrayData(rows): ArrayData
  }

  override def serialize(buf: TopFreq.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val entries = buf.entriesSnapshot
    out.writeInt(entries.length)
    entries.foreach { e =>
      out.writeInt(e.item.length); out.write(e.item)
      out.writeLong(e.cnt); out.writeLong(e.err)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopFreq.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new TopFreq.Buffer
    val n = in.readInt()
    (1 to n).foreach { _ =>
      val len = in.readInt()
      val item = new Array[Byte](len)
      in.readFully(item)
      b.putRaw(item, in.readLong(), in.readLong())
    }
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopFreq =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopFreq =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopFreq =
    copy(itemExpr = newChildren(0), kExpr = newChildren(1))
}

object TopFreq extends NativeFunction {

  /** Item bytes are raw UTF-8 so tie-break ordering is unsigned
    * byte-lexicographic (Spark's binary comparator) — the collation of
    * Spark's UTF8String sort and DuckDB's VARCHAR sort (see
    * BottomK.Entry for why not String). */
  final case class Entry(item: Array[Byte], var cnt: Long, var err: Long)

  /** Output/trim order: largest count first, item bytes ascending on
    * ties — a total order, so eval and trimming are deterministic. */
  val EntryOrdering: Ordering[Entry] = new Ordering[Entry] {
    override def compare(a: Entry, b: Entry): Int = {
      val d = java.lang.Long.compare(b.cnt, a.cnt)
      if (d != 0) d else ByteArray.compareBinary(a.item, b.item)
    }
  }

  /** SpaceSaving summary keyed by item bytes — the Stream-Summary
    * shape of the original paper: a wrapped-bytes HashMap for O(1)
    * lookup PLUS count buckets (TreeMap count → byte-ordered TreeSet)
    * so the eviction victim (minimum count, byte-smallest among
    * minima — deterministic) is O(log k), not an O(k) scan.
    *
    * The scan version was correct but degenerate exactly in the
    * regime the sketch exists for: with distinct >> capacity, nearly
    * every update is a novel item, every novel update evicts, and an
    * O(k) min-scan per eviction makes the aggregate O(n·k) — measured
    * 178 s at sf100 (≈31k-token vocabulary vs k = 4096, ~500M token
    * updates) where the exact regime at sf10 took 1.4 s. */
  final class Buffer {
    private val map = new java.util.HashMap[java.nio.ByteBuffer, Entry]()
    private val itemOrd = new java.util.Comparator[Entry] {
      override def compare(a: Entry, b: Entry): Int = ByteArray.compareBinary(a.item, b.item)
    }
    // LAZY: the bucket index only exists once the summary has filled
    // and an eviction-order question has actually been asked. In the
    // exact regime (distinct <= capacity — every gate corpus until
    // sf100) the summary never fills, no eviction ever happens, and
    // maintaining buckets on every update would be pure O(log k) tax
    // on what is otherwise an O(1) HashMap upsert. The flag flips on
    // first need, after which updates keep the index consistent.
    private val buckets = new java.util.TreeMap[java.lang.Long, java.util.TreeSet[Entry]]()
    private var bucketsValid = false

    private def keyOf(item: Array[Byte]) = java.nio.ByteBuffer.wrap(item)

    private def bucketAdd(e: Entry): Unit = if (bucketsValid) {
      var s = buckets.get(e.cnt)
      if (s == null) { s = new java.util.TreeSet[Entry](itemOrd); buckets.put(e.cnt, s) }
      s.add(e)
    }

    private def bucketRemove(e: Entry): Unit = if (bucketsValid) {
      val s = buckets.get(e.cnt)
      if (s != null) { s.remove(e); if (s.isEmpty) buckets.remove(e.cnt) }
    }

    private def ensureBuckets(): Unit = if (!bucketsValid) {
      buckets.clear()
      bucketsValid = true // set first so bucketAdd is live during the rebuild
      map.forEach((_, e) => bucketAdd(e))
    }

    def size: Int = map.size()

    /** Minimum count in the summary if full (the SpaceSaving bound on
      * any absent item's true count), else 0. */
    def minIfFull(k: Int): Long =
      if (map.size() < k) 0L
      else { ensureBuckets(); buckets.firstKey() }

    /** [[minIfFull]] by flat O(k) scan, NOT via the bucket index — for
      * the merge path only, which invalidates the index right after
      * reading one minimum: building an O(k log k) TreeMap to answer a
      * single min question and then discarding it would make every
      * shuffle-combine strictly more expensive than the scan. */
    private def minScan(k: Int): Long =
      if (map.size() < k) 0L
      else {
        var mn = Long.MaxValue
        map.forEach((_, e) => if (e.cnt < mn) mn = e.cnt)
        mn
      }

    /** Count an occurrence batch: present → add; room → insert; full →
      * evict a minimum-count entry (the byte-smallest among minima, so
      * eviction is deterministic) and inherit its count as error.
      * Amortized O(1) below capacity; O(log k) via the count-bucket
      * index above it (the Stream-Summary shape of the original paper —
      * the O(k) min-scan variant was O(n·k) exactly in the sketch
      * regime the structure exists for: 178 s at sf100's 31k-token
      * vocabulary vs k = 4096, where the exact regime took 1.4 s). */
    def offer(item: Array[Byte], cnt: Long, err: Long, k: Int): Unit = {
      val key = keyOf(item)
      val existing = map.get(key)
      if (existing != null) {
        bucketRemove(existing)
        existing.cnt += cnt; existing.err += err
        bucketAdd(existing)
      } else if (map.size() < k) {
        val e = Entry(item, cnt, err)
        map.put(key, e); bucketAdd(e)
      } else {
        ensureBuckets()
        val victim = buckets.firstEntry().getValue.first()
        map.remove(keyOf(victim.item)); bucketRemove(victim)
        // the new item's true count could be anything up to the
        // victim's count: record that as overestimate error
        val e = Entry(item, victim.cnt + cnt, victim.cnt + err)
        map.put(key, e); bucketAdd(e)
      }
    }

    /** Insert without capacity logic (deserialization only). */
    def putRaw(item: Array[Byte], cnt: Long, err: Long): Unit = {
      val e = Entry(item, cnt, err)
      val prev = map.put(keyOf(item), e)
      if (prev != null) bucketRemove(prev)
      bucketAdd(e)
    }

    /** Mergeable-summaries combine: add counts for common items; an
      * item absent from one side gains that side's min-if-full (its
      * maximum possible count there) in BOTH cnt and err; then trim to
      * the k largest by the deterministic output order. */
    def mergeIn(other: Buffer, k: Int): Unit = {
      val minSelf = minScan(k)
      val minOther = other.minScan(k)
      // count mutations below invalidate the bucket index; merge on
      // the map alone and defer the rebuild to the next need (merges
      // are per task-pair — O(k log k) there is noise next to the
      // update path)
      bucketsValid = false
      other.map.forEach { (key, oe) =>
        val e = map.get(key)
        if (e != null) { e.cnt += oe.cnt; e.err += oe.err }
        else map.put(key, Entry(oe.item, oe.cnt + minSelf, oe.err + minSelf))
      }
      if (minOther > 0) map.forEach { (_, e) =>
        if (!other.map.containsKey(java.nio.ByteBuffer.wrap(e.item))) {
          e.cnt += minOther; e.err += minOther
        }
      }
      if (map.size() > k) {
        val keep = entriesSnapshot.sorted(EntryOrdering).take(k)
        map.clear()
        keep.foreach(e => map.put(keyOf(e.item), e))
      }
    }

    def entriesSnapshot: Seq[Entry] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Entry]
      map.forEach((_, e) => buf += e)
      buf.toSeq
    }

    def sortedEntries: Seq[Entry] = entriesSnapshot.sorted(EntryOrdering)
  }

  val Info: ExpressionInfo = new ExpressionInfo(
    classOf[TopFreq].getCanonicalName, null, "graft_topfreq",
    "_FUNC_(item, k) - SpaceSaving top-k frequency summary: array<struct<item, cnt, err>> by cnt desc", "")

  val Builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"graft_topfreq expects 2 arguments, got ${exprs.length}")
    TopFreq(exprs.head, exprs(1))
  }
}
