package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = Harness.cpus
    // session recipe (data-sized reduce parallelism, adaptive scan
    // splits) shared with Bench — see Harness for the rationale
    val spark = Harness.buildSession(sfDir, cpus)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration; the driver
    // leaves it unset and gets every query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release frames the operators persisted (dedup pipelines cache
      // intermediates); keeps one query's cache from outliving its dump.
      // Also drain the ledger of returned-persisted frames — clearCache
      // frees the cached data but the ledger's (tag, frame) entries
      // (and their retained plan trees) would otherwise accumulate for
      // the session's lifetime.
      CacheLedger.releaseAll()
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    val q = graft.logging.JsonLogger.quote _
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
