package graft.tools

import org.apache.spark.sql.SparkSession

/** Compares two Verify output trees (e.g. a `local[32]` run and a
  * `local-cluster[4,8,...]` run) query by query as MULTISETS — the
  * cross-master half of the correctness story: the gate proves each
  * query against DuckDB in one JVM; this proves the same plans survive
  * real executor-boundary serialization (closure/broadcast/custom-
  * aggregate-buffer serde, netty shuffle, executor-side codegen) by
  * demanding bit-identical row multisets from a multi-process run.
  *
  * Multiset equality via two-sided `exceptAll` — order-insensitive on
  * purpose (replicated masters reorder partitions), exact on values
  * (every gate query already rounds/quantizes any float it emits, so
  * partitioning-order float drift would be a REAL finding, not noise).
  *
  * Exit code = number of mismatching queries; one line per query.
  *
  * Kept as a main because nothing else compares whole result sets
  * across masters: the gate and the specs run every query in one JVM,
  * so they cannot catch a plan that breaks under executor-boundary
  * serialization.
  */
object CrossCheck {
  def main(args: Array[String]): Unit = {
    val Array(dirA, dirB) = args
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def queryDirs(root: String): Set[String] =
      Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).toSet

    val dirsA = queryDirs(dirA)
    val dirsB = queryDirs(dirB)
    // reconcile against the FULL query inventory, not just what the
    // trees contain — a query that crashed under BOTH masters (or a
    // subset-filtered pair of Verify runs) must fail the cross-check,
    // not silently fall outside it
    val expected = graft.SparkEntry.queries.keySet
    val absent = expected.diff(dirsA).union(expected.diff(dirsB))
    val missing = dirsA.diff(dirsB) ++ dirsB.diff(dirsA) ++ absent
    var bad = missing.size
    missing.toSeq.sorted.foreach(n => println(s"MISSING $n (absent from at least one tree)"))

    dirsA.intersect(dirsB).toSeq.sorted.foreach { n =>
      val a = spark.read.parquet(s"$dirA/$n")
      val b = spark.read.parquet(s"$dirB/$n")
      val schemaA = a.schema.fields.map(f => (f.name, f.dataType.sql)).sortBy(_._1).toSeq
      val schemaB = b.schema.fields.map(f => (f.name, f.dataType.sql)).sortBy(_._1).toSeq
      if (schemaA != schemaB) {
        bad += 1
        println(s"SCHEMA-DIFF $n: $schemaA vs $schemaB")
      } else {
        // align column order before exceptAll (it is positional);
        // cache both sides — each feeds two exceptAll jobs
        val cols = schemaA.map(_._1)
        val aa = a.select(cols.map(a.col): _*).cache()
        val bb = b.select(cols.map(b.col): _*).cache()
        val nA = aa.count(); val nB = bb.count() // also materializes the caches
        val onlyA = aa.exceptAll(bb).count()
        val onlyB = bb.exceptAll(aa).count()
        if (onlyA == 0 && onlyB == 0 && nA == nB) println(s"OK $n ($nA rows)")
        else { bad += 1; println(s"ROW-DIFF $n: $onlyA rows only in A, $onlyB only in B (rows $nA vs $nB)") }
        aa.unpersist(); bb.unpersist()
      }
    }
    spark.stop()
    if (bad > 0) sys.exit(math.min(bad, 255))
  }
}
