package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The lineage-cut kernel of the iterative operators (connected
  * components, PageRank): [[cut]] ends a round, [[retire]] frees one.
  * `cut` leaves the round before alone: a convergence test may still
  * join the new round against it, so its caller retires it. */
private[graft] object Checkpoints {

  /** `df` persisted, checkpointed eagerly and unpersisted: the frame
    * its checkpoint files back, with plan and RDD DAG reset to them.
    * The persist keeps the write pass from re-running `df`. A cluster
    * must set the checkpoint dir on durable SHARED storage (executors
    * cannot read a driver-local path), so one without fails here, not
    * deep in a loop; a local session falls back to a temp dir. */
  def cut(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      require(sc.isLocal, "iterative operators take a reliable checkpoint per round: call " +
        "SparkContext.setCheckpointDir on durable SHARED storage before running them on a cluster")
      sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    }
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    try cached.checkpoint() finally cached.unpersist()
  }

  /** Unpersist `df` and, if [[cut]] made it (its plan is one LogicalRDD
    * over the checkpointed RDD; no lineage is walked), delete its files:
    * the ContextCleaner does not collect checkpoints
    * (`spark.cleaner.referenceTracking.cleanCheckpoints` is off by
    * default), so a round left behind lives as long as the session. */
  def retire(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.getCheckpointFile.foreach { file =>
        val p = new Path(file)
        p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
      }
      case _ =>
    }
  }
}
