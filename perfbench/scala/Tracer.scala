package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Benchmark-owned span recorder. The step wrapper opens and closes
  * pass, step, call and action spans; while attached as a listener it
  * also records every Spark job and stage with its task metrics. All
  * spans stay in memory and are written once, when the run ends.
  *
  * Jobs are attributed to the call or action span whose window holds
  * the job's submission time: the benchmark is one closed-loop client,
  * so nothing else submits jobs while a step runs. */
final class Tracer(runId: String, cores: Int) extends SparkListener {

  final class Span(val id: Int, val kind: String, val name: String, val parent: Int, val startMs: Long) {
    var endMs: Long = -1L
  }

  final class JobRec(val id: Int, val submitMs: Long) {
    var endMs: Long = -1L
    var ok = true
  }

  final class StageRec(val id: Int, val attempt: Int, val job: Int) {
    var submitMs = 0L
    var doneMs = 0L
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var fetchWaitMs = 0L
    var inputBytes = 0L
    var outputBytes = 0L
  }

  private val spans = ArrayBuffer[Span]()
  private val jobs = ArrayBuffer[JobRec]()
  private val stages = ArrayBuffer[StageRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val failedTasks = mutable.HashMap[(Int, Int), Int]().withDefaultValue(0)

  def open(kind: String, name: String, parent: Int): Int = synchronized {
    spans += new Span(spans.size, kind, name, parent, System.currentTimeMillis())
    spans.size - 1
  }

  def close(id: Int): Unit = synchronized { spans(id).endMs = System.currentTimeMillis() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += new JobRec(e.jobId, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) synchronized { failedTasks((e.stageId, e.stageAttemptId)) += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = new StageRec(i.stageId, i.attemptNumber(), stageJob.getOrElse(i.stageId, -1))
    s.submitMs = i.submissionTime.getOrElse(0L)
    s.doneMs = i.completionTime.getOrElse(s.submitMs)
    s.tasks = i.numTasks
    val m = i.taskMetrics
    if (m != null) {
      s.cpuNs = m.executorCpuTime
      s.runMs = m.executorRunTime
      s.gcMs = m.jvmGCTime
      s.shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      s.spillBytes = m.diskBytesSpilled
      s.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
      s.inputBytes = m.inputMetrics.bytesRead
      s.outputBytes = m.outputMetrics.bytesWritten
    }
    stages += s
  }

  private def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs).toSeq

  private def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.map(_.id).toSet
    stages.filter(s => ids.contains(s.job)).toSeq
  }

  /** Length of the union of [start, end) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** Per-layer metrics, each the median over the traced passes of that
    * pass's per-layer total. Returns a JSON object. */
  def layerMetrics(passes: Seq[Driver.PassRecord], layerOf: Map[String, String], lake: String): String =
    synchronized {
      val perPass = passes.map { p =>
        val acc = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
        val runMs = mutable.HashMap[String, Double]().withDefaultValue(0.0)
        val spanMs = mutable.HashMap[String, Double]().withDefaultValue(0.0)
        p.steps.foreach { r =>
          val l = layerOf(r.name)
          val js = jobsIn(r.startMs, r.endMs)
          val ss = stagesOf(js)
          val jobCover = covered(js.map(j => (j.submitMs, if (j.endMs < 0) r.endMs else j.endMs)))
          acc(s"$l.wall_s") += r.wallS
          acc(s"$l.driver_s") += math.max(0.0, r.wallS - jobCover / 1e3)
          acc(s"$l.cpu_s") += ss.map(_.cpuNs).sum / 1e9
          acc(s"$l.gc_s") += r.gcS
          acc(s"$l.shuffle_mb") += ss.map(s => s.shuffleReadBytes + s.shuffleWriteBytes).sum / 1048576.0
          acc(s"$l.spill_mb") += ss.map(_.spillBytes).sum / 1048576.0
          acc(s"$l.fetch_wait_s") += ss.map(_.fetchWaitMs).sum / 1e3
          acc(s"$l.jobs") += js.size
          acc(s"$l.tasks_failed") += ss.map(s => failedTasks((s.id, s.attempt))).sum
          runMs(l) += ss.map(_.runMs).sum
          spanMs(l) += jobCover
          if (l == "io") {
            acc("io.write_s") += r.callS
            acc("io.read_s") += r.actionS
            acc("io.bytes_written_mb") += r.bytesWritten / 1048576.0
            acc("io.files_written") += r.filesWritten
            if (r.name == "io_stats_prune_scan") {
              val lakeBytes = parquetBytes(new File(s"$lake/${r.name}"))
              val read = stagesOf(jobsIn(r.callEndMs, r.endMs)).map(_.inputBytes).sum
              acc("io.pruned_read_ratio") += (if (lakeBytes > 0) read.toDouble / lakeBytes else 0.0)
            }
          }
        }
        runMs.keys.foreach { l =>
          acc(s"$l.slot_util") = if (spanMs(l) > 0) runMs(l) / (spanMs(l) * cores) else 0.0
        }
        acc
      }
      val keys = perPass.flatMap(_.keys).distinct
      keys.map { k =>
        val v = perPass.map(_.getOrElse(k, 0.0)).sorted
        val med = if (v.isEmpty) 0.0
          else if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
        s"${Driver.q(k)}:$med"
      }.mkString("{", ",", "}")
    }

  private def parquetBytes(dir: File): Long =
    if (!dir.exists()) 0L
    else {
      val s = Files.walk(dir.toPath)
      try {
        var b = 0L
        s.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
          .forEach(p => b += Files.size(p))
        b
      } finally s.close()
    }

  /** One JSON line per span: pass, step, call, action, job, stage. */
  def writeSpans(path: String): Unit = synchronized {
    final case class Out(id: Int, kind: String, name: String, parent: Int,
        start: Long, end: Long, extra: String)
    val out = ArrayBuffer[Out]()
    spans.foreach(s => out += Out(s.id, s.kind, s.name, s.parent, s.startMs, s.endMs, ""))
    val phases = spans.filter(s => s.kind == "call" || s.kind == "action")
    val jobSpan = mutable.HashMap[Int, Int]()
    jobs.foreach { j =>
      val parent = phases.find(p => p.startMs <= j.submitMs && j.submitMs <= p.endMs).map(_.id).getOrElse(-1)
      jobSpan(j.id) = out.size
      out += Out(out.size, "job", s"job-${j.id}", parent, j.submitMs, j.endMs, s""","ok":${j.ok}""")
    }
    stages.foreach { s =>
      val parent = jobSpan.getOrElse(s.job, -1)
      out += Out(out.size, "stage", s"stage-${s.id}.${s.attempt}", parent, s.submitMs, s.doneMs,
        s""","tasks":${s.tasks},"cpu_s":${s.cpuNs / 1e9},"run_s":${s.runMs / 1e3},""" +
        s""""gc_s":${s.gcMs / 1e3},"shuffle_read_mb":${s.shuffleReadBytes / 1048576.0},""" +
        s""""shuffle_write_mb":${s.shuffleWriteBytes / 1048576.0},"spill_mb":${s.spillBytes / 1048576.0},""" +
        s""""fetch_wait_s":${s.fetchWaitMs / 1e3},"input_mb":${s.inputBytes / 1048576.0},""" +
        s""""output_mb":${s.outputBytes / 1048576.0},"tasks_failed":${failedTasks((s.id, s.attempt))}""")
    }
    val children = out.groupBy(_.parent)
    val lines = out.map { o =>
      val kids = children.getOrElse(o.id, Nil).map(c => (math.max(c.start, o.start), math.min(c.end, o.end)))
      val self = math.max(0L, (o.end - o.start) - covered(kids.toSeq))
      s"""{"run_id":${Driver.q(runId)},"id":${o.id},"kind":${Driver.q(o.kind)},""" +
      s""""name":${Driver.q(o.name)},"parent":${o.parent},"start_ms":${o.start},"end_ms":${o.end},""" +
      s""""self_ms":$self${o.extra}}"""
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
