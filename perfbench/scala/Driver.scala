package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheLedger, Harness, SparkEntry}

/** One benchmark JVM: build the session, run one untimed warm-up pass
  * of a workload, then a fixed number of timed passes (traced ones when
  * trace=1). After each
  * step's timed region its output is written as parquet for the oracle
  * and digest checks done by run.py.
  *
  * Args (key=value): workload, data, cpus, passes, trace (0|1), out,
  * run_id. Everything goes to `out`: result.json, spans.jsonl (traced
  * runs), check/<pass>/<step>/ and, under lake/<step>/, what each step
  * writes to graft's /tmp/graft_io (moved there by RedirectFS).
  *
  * A pass is the workload's steps in order. A step is a call (the
  * entry point returns a DataFrame; io steps write eagerly here) and an
  * action (the result forced through the `noop` sink, as graft.Bench
  * does). Between steps, caches are released the way graft.Bench does
  * it, outside every timed region.
  */
object Driver {

  final case class Step(name: String, layer: String, run: (SparkSession, String) => DataFrame)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = kv("workload")
    val data = kv("data")
    val cpus = kv("cpus")
    val nPasses = kv("passes").toInt
    val traced = kv("trace") == "1"
    val out = kv("out")
    val lake = s"$out/lake"
    new File(lake).mkdirs()

    val steps = Workloads(workload)
    Configuration.addDefaultResource("perfbench-site.xml")
    var spark = Harness.buildSession(data, cpus)
    val localFs = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    require(localFs.isInstanceOf[RedirectFS],
      s"local file system is ${localFs.getClass.getName}, not perfbench.RedirectFS: is perfbench-site.xml on the classpath?")
    val sessionMs = System.currentTimeMillis()
    val tracer = new Tracer(kv("run_id"), cpus.toInt)
    val passes = ArrayBuffer[PassRecord]()
    val failures = ArrayBuffer[String]()
    var attempted = 0

    // a timed pass is traced in a traced run, and writes each step's
    // output as parquet for the checks: the same DataFrame is written
    // again after its timed noop action, before caches are released, so
    // only the action re-runs
    def runPass(label: String, timed: Boolean): PassRecord = {
      val traceThis = timed && traced
      if (traceThis) spark.sparkContext.addSparkListener(tracer)
      val rec = new PassRecord(label)
      val passSpan = tracer.open("pass", label, -1)
      steps.foreach { st =>
        if (spark.sparkContext.isStopped) spark = Harness.buildSession(data, cpus)
        attempted += 1
        RedirectFS.target = s"$lake/${st.name}"
        val (r, df) = timeStep(spark, st, data, tracer, passSpan)
        r.error.foreach(e => failures += s"$label/${st.name}: $e")
        if (st.layer == "io") {
          val (b, f) = diskUsage(new File(s"$lake/${st.name}"))
          r.bytesWritten = b; r.filesWritten = f
        }
        if (timed) df.foreach { d =>
          try d.coalesce(1).write.mode("overwrite").parquet(s"$out/check/$label/${st.name}")
          catch { case e: Throwable => failures += s"$label/check/${st.name}: ${msg(e)}" }
        }
        rec.steps += r
        CacheLedger.releaseAll()
        spark.catalog.clearCache()
      }
      tracer.close(passSpan)
      if (traceThis) {
        org.apache.spark.BusDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
      }
      rec
    }

    val warmup = runPass("warmup", timed = false)
    val setupEndMs = System.currentTimeMillis()
    for (i <- 0 until nPasses) passes += runPass(s"pass-$i", timed = true)

    val oracles = steps.flatMap(st => SparkEntry.oracleSql.get(st.name).map(st.name -> _))

    val json = new StringBuilder("{")
    def field(k: String, v: String): Unit = {
      if (json.length > 1) json ++= ","
      json ++= s"${q(k)}:$v"
    }
    field("jvm_start_ms", ManagementFactory.getRuntimeMXBean.getStartTime.toString)
    field("session_ms", sessionMs.toString)
    field("setup_end_ms", setupEndMs.toString)
    field("attempted", attempted.toString)
    field("failures", failures.map(q).mkString("[", ",", "]"))
    field("vm_hwm_kb", vmHwmKb.toString)
    field("spark_version", q(spark.version))
    field("java_version", q(System.getProperty("java.version")))
    field("max_heap_mb", (Runtime.getRuntime.maxMemory >> 20).toString)
    field("steps", steps.map(s => s"[${q(s.name)},${q(s.layer)}]").mkString("[", ",", "]"))
    field("oracles", oracles.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}"))
    field("warmup", warmup.json)
    field("passes", passes.map(_.json).mkString("[", ",", "]"))
    if (traced) {
      val layerOf = steps.map(s => s.name -> s.layer).toMap
      field("layers", tracer.layerMetrics(passes.toSeq, layerOf, lake))
      tracer.writeSpans(s"$out/spans.jsonl")
    }
    json ++= "}"
    Files.writeString(Paths.get(s"$out/result.json"), json.toString + "\n")
    spark.stop()
  }

  final class StepRecord(val name: String) {
    var callS = 0.0
    var actionS = 0.0
    var cpuS = 0.0
    var jitS = 0.0
    var gcS = 0.0
    var startMs = 0L
    var callEndMs = 0L
    var endMs = 0L
    var error: Option[String] = None
    var bytesWritten = 0L
    var filesWritten = 0L
    def wallS: Double = callS + actionS
    def json: String =
      s"""{"name":${q(name)},"call_s":$callS,"action_s":$actionS,"cpu_s":$cpuS,"jit_s":$jitS,"gc_s":$gcS,""" +
      s""""bytes_written":$bytesWritten,"files_written":$filesWritten,"ok":${error.isEmpty}}"""
  }

  final class PassRecord(val label: String) {
    val steps = ArrayBuffer[StepRecord]()
    def json: String =
      s"""{"label":${q(label)},"wall_s":${steps.map(_.wallS).sum},""" +
      s""""cpu_s":${steps.map(_.cpuS).sum},"jit_s":${steps.map(_.jitS).sum},"steps":${steps.map(_.json).mkString("[", ",", "]")}}"""
  }

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val jitBean = ManagementFactory.getCompilationMXBean

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def timeStep(
      spark: SparkSession, st: Step, data: String, tracer: Tracer, passSpan: Int)
      : (StepRecord, Option[DataFrame]) = {
    val r = new StepRecord(st.name)
    var out: Option[DataFrame] = None
    val stepSpan = tracer.open("step", st.name, passSpan)
    val cpu0 = osBean.getProcessCpuTime
    val gc0 = gcMs
    val jit0 = jitBean.getTotalCompilationTime
    r.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val callSpan = tracer.open("call", st.name, stepSpan)
      val df = st.run(spark, data)
      val t1 = System.nanoTime()
      tracer.close(callSpan)
      r.callEndMs = System.currentTimeMillis()
      val actionSpan = tracer.open("action", st.name, stepSpan)
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      tracer.close(actionSpan)
      r.callS = (t1 - t0) / 1e9
      r.actionS = (t2 - t1) / 1e9
      out = Some(df)
    } catch { case e: Throwable =>
      r.error = Some(msg(e))
      r.callS = (System.nanoTime() - t0) / 1e9
      Console.err.println(s"[perfbench] ${st.name} FAILED: ${r.error.get}")
      e.printStackTrace()
    }
    r.endMs = System.currentTimeMillis()
    r.cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
    r.gcS = (gcMs - gc0) / 1e3
    r.jitS = (jitBean.getTotalCompilationTime - jit0) / 1e3
    tracer.close(stepSpan)
    (r, out)
  }

  private def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(300)

  /** (bytes, files) of every regular file under `dir`. */
  def diskUsage(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else {
      val s = Files.walk(dir.toPath)
      try {
        var b = 0L; var f = 0L
        s.filter(p => Files.isRegularFile(p)).forEach { p => b += Files.size(p); f += 1 }
        (b, f)
      } finally s.close()
    }

  private def vmHwmKb: Long = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }

  def q(s: String): String = graft.logging.JsonLogger.quote(s)
}

/** The workloads: fixed step sequences over graft's public entry
  * points. Layer = the graft module that holds the step's hot path. */
object Workloads {
  import Driver.Step

  private def entry(name: String, layer: String): Step =
    Step(name, layer, SparkEntry.queries(name))

  def apply(workload: String): Seq[Step] = workload match {
    case "curate" => Seq(
      entry("text_curate", "text"),
      entry("dedup_cluster_rep", "similarity"),
      entry("multimodal_decode", "multimodal"),
      entry("ann_bruteforce_topk", "functions"))
    case "lake" => Seq(
      entry("io_dsv_roundtrip", "io"),
      entry("io_stats_prune_scan", "io"),
      entry("filter_events_nested", "filtering"),
      entry("q3_shipping_priority", "operators"))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
