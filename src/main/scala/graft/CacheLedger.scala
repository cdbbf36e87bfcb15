package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** The materialization kernel, and the session-wide registry of the
  * persisted frames operators RETURN.
  *
  * An operator that builds a small result over large cached
  * intermediates (per-doc shingle arrays, digest frames, band events)
  * returns it through [[keep]]: the result is persisted at
  * `MEMORY_AND_DISK` and counted once, so the intermediates can be
  * unpersisted before the operator returns without the caller's
  * action recomputing them. That count is the reason to keep: a frame
  * with no input to release has no reason to be counted, so `keep`
  * requires one.
  *
  * If the count throws, `keep` unpersists the result and the inputs,
  * registers nothing and rethrows, so neither outlives the failed
  * call. Otherwise the returned entry outlives the call: a library
  * caller who never unpersists it would strand one entry per
  * invocation for the life of the session, so `keep` records it here.
  * The gate harnesses drain the ledger (Verify calls `releaseAll()` +
  * `catalog.clearCache()` after every query; Bench before every timed
  * run — clearCache alone frees the cached data but would leave ledger
  * entries, and their retained plan trees, accumulating); library
  * callers release the frames they were returned in one call:
  *
  * {{{
  *   val novelty = CurationQueries.textNgramNovelty(spark, dir)
  *   novelty.write.parquet(out)
  *   CacheLedger.releaseAll()   // or novelty.unpersist() directly
  * }}}
  *
  * Unpersisting a frame twice (caller AND ledger) is a Spark no-op, so
  * double-release is safe. Leak checks can inspect [[registered]].
  */
object CacheLedger {
  private val frames =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, DataFrame)]()

  /** Persist `ds`, materialize it with one `count()`, unpersist
    * `release` and `more`, and register `ds` under `tag`; returns it
    * persisted. A failed count releases `ds` and the inputs, registers
    * nothing and rethrows. */
  def keep[T](tag: String, ds: Dataset[T], release: Dataset[_], more: Dataset[_]*): Dataset[T] = {
    val kept = ds.persist(StorageLevel.MEMORY_AND_DISK)
    val inputs = release +: more
    try kept.count()
    catch { case e: Throwable =>
      (kept +: inputs).foreach(_.unpersist())
      throw e
    }
    inputs.foreach(_.unpersist())
    frames.add(tag -> kept.toDF())
    kept
  }

  /** Tags + frames registered and not yet released. */
  def registered: Seq[String] = {
    import scala.jdk.CollectionConverters._
    frames.asScala.map(_._1).toSeq
  }

  /** Unpersist every registered frame (non-blocking) and clear the
    * ledger. Safe against frames already released by their caller. */
  def releaseAll(): Unit = {
    var e = frames.poll()
    while (e != null) {
      e._2.unpersist(blocking = false)
      e = frames.poll()
    }
  }
}
