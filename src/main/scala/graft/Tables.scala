package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish test tables (TESTDATA.md).
  * One parquet file per table under `sfDir`, read by [[table]] with a
  * schema inferred once per table version; Catalyst owns pushdown + pruning.
  */
object Tables {

  /** Inferred schemas, per session (parquet inference reads session
    * conf such as nanosAsLong), keyed on the table's qualified path and
    * stamped with its version: (name, length, modification time) of
    * the file, or of each file of a table directory. A rewritten table
    * no longer matches its stamp and is inferred again. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[
      String, (Seq[(String, Long, Long)], StructType)]]())

  /** `spark.read.parquet` of `dir/name.parquet`, inferring its schema
    * once per table version: inference is a Spark job of its own (a
    * footer read), paid on every read of an unchanged table otherwise.
    * A hit costs one file-status call (plus a listing for a table
    * directory). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val file = s"$dir/$name.parquet"
    val path = new Path(file)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(path)
    val version = (if (st.isDirectory) fs.listStatus(path).toSeq else Seq(st))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted
    val perSession = schemas.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
    val cached = perSession.get(st.getPath.toString)
    val schema = if (cached != null && cached._1 == version) cached._2 else {
      val inferred = spark.read.parquet(file).schema
      perSession.put(st.getPath.toString, (version, inferred))
      inferred
    }
    spark.read.schema(schema).parquet(file)
  }

  /** `events.ts` is epoch-nanos BIGINT everywhere downstream (all event
    * queries and their DuckDB `epoch_ns` oracles do integer nanos
    * arithmetic). The driver's parquet has carried the instant as
    * TIMESTAMP(NANOS) (read natively as long via `nanosAsLong`) and as
    * TIMESTAMP(MICROS) (read as TimestampType) in different rounds —
    * normalize both to the same nanos long. `unix_micros * 1000` is
    * exact for micros data and bit-equal to DuckDB's `epoch_ns`.
    */
  private def tsAsNanos(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        // the instant may infer as TIMESTAMP_NTZ (parquet not
        // UTC-adjusted); every graft session runs in UTC, so the cast
        // to TIMESTAMP is a pure re-tag and unix_micros is exact —
        // the same wall-clock-as-UTC reading DuckDB's epoch_ns gives
        // the naive column
        df.withColumn(
          "ts",
          org.apache.spark.sql.functions.unix_micros(
            df("ts").cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = tsAsNanos(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")

  /** A NULL or non-finite vector cannot participate in ANY similarity
    * computation — no norm, no dot product, no cluster assignment; a
    * typed Dataset[...Array[Float]...] consumer NPEs on null deep
    * inside a task, and one NaN/Inf element poisons every cosine,
    * centroid sum, and quantization cast it touches (the ANSI
    * floor-to-long then kills the JOB — found by the null- and
    * nonfinite-injection sweeps: the whole ANN/cluster family
    * crashed). Drop such rows at the source, the standard vector-store
    * contract: IS NOT NULL pushes to the scan, and the finiteness
    * probe is one codegen'd array pass — noise next to the 2·dim FLOPs
    * every consumer spends per vector anyway. No-op on clean data. */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // the x.isNull clause matters: exists() over a vector whose only
    // bad entries are NULL elements evaluates to NULL (three-valued
    // logic) and the filter would drop the row SILENTLY while the
    // DuckDB oracle's list_filter discards null elements and KEEPS it
    // — the explicit clause makes "any null element → drop" the
    // contract on both engines (oracle carries `x IS NULL OR …`)
    table(s, d, "embeddings").filter(
      col("embedding").isNotNull &&
        !exists(col("embedding"), x => x.isNull || isnan(x) || abs(x) > lit(Float.MaxValue)))
  }

  /** Spread a narrow input across the cluster before a CPU-bound kernel
    * (sketching, scoring): a small parquet file arrives as one split,
    * serializing all downstream map work onto one core. Only widens when
    * the scan has FEWER splits than cores — at real scale the input
    * already has thousands of splits and this is an exact no-op (no
    * shuffle); locally it costs one tiny exchange of the raw rows. */
  def widened(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (splits(df) >= target) df else df.repartition(target)
  }

  /** The split count of a scan-rooted `df`, read from the physical
    * plan's RDD, which builds no job: `Dataset.rdd` would start a SQL
    * execution per call (listener events, a formatted explain, a
    * deserializer plan) to read the same number. */
  private[graft] def splits(df: DataFrame): Int =
    df.queryExecution.executedPlan.execute().getNumPartitions

  /** Id offset for gate-corpus synthetic variants (planted copies,
    * mutants, upscales). Round 10 found the old 1e6 offset COLLIDING
    * with real doc_ids at sf100 (5M documents): a copy's doc_id+1e6
    * equaled another original's id, silently merging two documents'
    * state in every per-doc aggregate downstream — and crashing
    * dedup_substring_rewrite outright (a foreign doc's removal
    * intervals landed beyond the victim's token count). 1e9 covers
    * every measured scale (sf100 = 5e6 docs; sf1000 would be 5e7);
    * a 100 TB corpus can exceed 1e9 documents, at which point the
    * offset becomes max(doc_id)+1 computed once up front — the
    * expression shape is unchanged. */
  val SynthIdOffset = 1000000000L

  /** `id + k * SynthIdOffset`, failing LOUDLY if the real id is
    * outside [0, SynthIdOffset) — a silent collision corrupts
    * per-document state, the exact bug class the r10 sf100 run caught
    * (same posture as docs_source_cap's pack-range guards; oracles
    * omit the guard because it never fires on a valid corpus). */
  def synthId(id: org.apache.spark.sql.Column, k: Int = 1): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(id.between(0L, SynthIdOffset - 1L), id + k * SynthIdOffset)
      .otherwise(raise_error(concat(
        lit(s"synthId: id outside [0, $SynthIdOffset): "), id.cast("string"))))
  }

  /** Planted near-duplicates of a (vec_id, embedding) frame: each
    * vector under its [[synthId]], alternate dimensions scaled by ±2%
    * (cosine ≈ 0.9996 to its source). The one construction the
    * embedding-dedup, semantic-decontamination and MMR queries plant. */
  def nearDupTwins(vecs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    vecs.select(synthId(col("vec_id")).as("vec_id"),
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, d) => x * when(d % 2 === 0, lit(1.02f)).otherwise(lit(0.98f))).as("embedding"))
  }
}
