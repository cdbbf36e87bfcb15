package graft
import org.apache.spark.sql.SparkSession

/** The ONE local-session recipe of every main that runs queries (Bench,
  * Verify, PlanDump, PinHarness, perfbench's Driver) — they must all
  * run the SAME plans, so the sizing math and configs live here, not
  * copy-pasted per main (a tuning change applied to one would silently
  * leave the others running different plans).
  *
  * The recipe also sizes Spark's generated-class cache
  * (`spark.sql.codegen.cache.maxEntries`, see [[CodegenCacheEntries]]).
  * Spark's default keeps 100 classes, but one `curate` benchmark pass
  * compiles about 105 in its four steps alone: at the default, every
  * class is evicted before its next use, so each pass re-runs Janino
  * and the JIT starts over on fresh classes.
  */
object Harness {

  /** Entries in the JVM's whole-stage-codegen class cache: the measured
    * working set of graft's operator surface, rounded up to a power of
    * two. All 104 `SparkEntry.queries` at sf0.01 compile 1,504 distinct
    * classes (1,501 at sf0.1); one `curate` pass compiles about 105;
    * Spark's default is 100. The conf is static and JVM-wide: Spark
    * reads it once, when the first session of the JVM first generates
    * code, so it must be set before that (the test session reads this
    * constant too). The bound also caps what a query whose generated
    * code changes on every call could leak. */
  val CodegenCacheEntries: Int = 2048

  /** Local core count of every main: SPARK_GRAFT_CPUS when set, else
    * all cores the JVM sees. */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** Reduce-stage parallelism sized to the DATA, the way a production
    * job sizes spark.sql.shuffle.partitions to its input: one initial
    * partition per 64 MB of corpus, floored at the core count (small
    * corpora get exactly the old fixed-32 behavior — measured: raising
    * it unconditionally doubled the shuffle-heavy family at sf0.1),
    * capped at 16x cores. AQE's coalescePartitions then merges down by
    * size, so the cap only bounds the worst case. At sf100 the fixed 32
    * gave reduce tasks GBs of aggregate state (dedup_minhash_lsh:
    * UNABLE_TO_ACQUIRE_MEMORY at 8 GB heap, and 2x slower than
    * data-sized shuffles even at 64 GB). */
  def dataSizedInitParts(sfDir: String, cpus: Int): Long = {
    val corpusBytes = Option(new java.io.File(sfDir).listFiles())
      .map(_.filter(_.getName.endsWith(".parquet")).map(_.length).sum).getOrElse(0L)
    math.min(cpus * 16L, math.max(cpus.toLong, corpusBytes / (64L << 20)))
  }

  /** Local session over the corpus at `sfDir`:
    *  - scan splits via Spark's own adaptive formula — maxSplitBytes =
    *    min(maxPartitionBytes, max(openCost, totalBytes/minPartitionNum))
    *    — instead of a fixed target. A fixed 2m kept a 12 MB local file
    *    parallel (the 128m default gives it ONE task and serializes
    *    CPU-heavy scan stages onto one core), but carved a 13 GB sf100
    *    file into ~6500 tasks, each re-reading the multi-MB parquet
    *    footer: superlinear in file size (q1 at sf100: 86 s fixed ->
    *    7 s adaptive). The 2m openCost floor reproduces the old
    *    small-corpus split size exactly (a 512k floor was tried and
    *    cost ~0.3 s/query of pure task-launch overhead at sf0.1);
    *    4x-cores minPartitionNum load-balances scans at every scale.
    *  - events.parquet carries TIMESTAMP(NANOS); read as epoch-nanos
    *    long via nanosAsLong. */
  def buildSession(sfDir: String, cpus: String): SparkSession = {
    // SPARK_GRAFT_MASTER lets spark-submit run the SAME mains under a
    // real multi-executor master (local-cluster[n,c,m]) for
    // serialization/shuffle validation; absent, the driver contract's
    // local[cpus] applies. `cpus` keeps sizing the shuffle math either
    // way (local-cluster runs pass total cores there).
    // SPARK_GRAFT_EXTRA_CONF = semicolon-separated k=v pairs applied
    // LAST (they win over the recipe below) — the local stand-in for
    // spark-submit --conf: lets a profiling run turn on the event log
    // or an experiment try a different shuffle codec without editing
    // the shared recipe both mains must otherwise agree on.
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry is not k=v: '$kv'")
        (kv.take(i).trim, kv.drop(i + 1).trim)
      }
    val spark = extra.foldLeft(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        dataSizedInitParts(sfDir, cpus.toInt).toString)
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.files.openCostInBytes", "2m")
      .config("spark.sql.files.minPartitionNum", s"${cpus.toInt * 4}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    ) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
