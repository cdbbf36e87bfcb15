package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{DataSourceScanExec, ExternalRDDScanExec, LocalTableScanExec,
  RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Dev utility: write `.explain("formatted")` of named SparkEntry
  * queries (or all of them) to a directory, one file per query —
  * the plan evidence the optimization rounds commit under plans/.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> [query ...]
  * Env:   SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS
  *        (default: all cores, see Harness.cpus),
  *        SPARK_GRAFT_SUFFIX (default "", e.g. "_before"/"_after").
  *
  * The data directory is written as `file:<basename>/` (e.g.
  * `file:<sf0.01>/`) and RDD call sites without their line number
  * (`at GraftIO.scala`), so dumps from different checkouts or machines
  * diff cleanly. Each
  * `[plandump] <query> ok` line carries the plan's shuffle `Exchange`
  * count, the number a plan-preserving change has to keep. Each query
  * starts from an empty cache, so its plan does not depend on which
  * queries were dumped before it.
  *
  * Queries that materialize internally (pagerank, k-means report)
  * return a driver-local/cached tail — the file still records it, with
  * a NOTE header. Only such a tail gets the NOTE: a plan with any leaf
  * that reads files or an RDD is whole.
  *
  * Kept as a main because a speed claim needs before/after plan dumps
  * beside its A/B (ROADMAP), and this is what writes them.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error("usage: PlanDump <outDir> [query ...]"))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_SUFFIX", "")
    val spark = graft.Harness.buildSession(dir, graft.Harness.cpus)
    Files.createDirectories(Paths.get(outDir))
    // file:<abs dir>/ → file:<basename>/; the file-system root has no
    // basename and stays as it is
    val abs = Paths.get(dir).toAbsolutePath.normalize
    val relocate: String => String = Option(abs.getFileName)
      .fold(identity[String] _)(base => _.replace(s"file:$abs/", s"file:<$base>/"))
    val names = if (args.length > 1) args.drop(1).toSeq else graft.SparkEntry.queries.map(_._1)
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries.toMap.apply(n)(spark, dir)
        val qe = df.queryExecution
        val txt = relocate(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
          .replaceAll("""(at \w+\.scala):\d+""", "$1")
        val note =
          if (isTail(qe.sparkPlan))
            "NOTE: internally-materialized result; this is the plan TAIL only\n\n"
          else ""
        Files.writeString(Paths.get(outDir, s"$n$suffix.txt"), note + txt)
        val exchanges = txt.linesIterator.count(_.matches("""^\(\d+\) Exchange.*"""))
        Console.err.println(s"[plandump] $n ok exchanges=$exchanges")
      } catch { case e: Throwable =>
        Console.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      } finally {
        // as Verify and Bench do: a query must not reuse the frames an
        // earlier query kept, or its plan depends on the dump's order
        graft.CacheLedger.releaseAll()
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }

  /** A plan over driver-local or cached rows that no leaf of it reads
    * from files or an RDD: the tail of a query that materialized
    * internally. A whole plan that also joins a small literal frame
    * (IVF centroids, a PQ codebook) still reads its source. */
  private def isTail(plan: SparkPlan): Boolean = {
    val leaves = plan.collectLeaves()
    leaves.exists {
      case _: LocalTableScanExec | _: InMemoryTableScanExec => true
      case _ => false
    } && !leaves.exists {
      case _: DataSourceScanExec | _: BatchScanExec | _: RDDScanExec | _: ExternalRDDScanExec[_] => true
      case _ => false
    }
  }
}
