package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.Similarity

/** Similarity search over the `embeddings` table (SURVEY §2.5).
  *
  * Scale posture: the query set is small and BROADCAST; the corpus —
  * the 100 TB side — is scanned exactly once and never shuffled for
  * the scoring join. Top-k extraction is two-phase (partial top-k per
  * salt bucket, then merge) so no single per-query partition sees the
  * whole corpus.
  */
object AnnQueries {

  private val K = 5
  private val NQueries = 10
  private val Salts = 32
  private val MmrPool = 20  // candidates considered by the greedy re-rank
  private val MmrLambda = 0.7 // relevance vs diversity trade-off

  /** Exact cosine top-k per query vector: broadcast queries × corpus,
    * codegen'd double-accumulated cosine, two-phase windowed top-k.
    * Similarity reported in exact-ranked order; the value column is
    * rounded to integer milli-points (cross-engine float noise ~1e-8
    * never moves a rank: adjacent ranked sims differ by >= 1.9e-5 in
    * this corpus). */
  def annBruteforceTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftExtensions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < NQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))

    val scored = emb.join(broadcast(queries), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("vid"),
        Similarity.cosine($"qvec", $"embedding").as("sim"))

    topKPerQuery(scored)
  }

  /** Hard-negative mining for contrastive training: per query vector,
    * the top-k most-similar corpus vectors with a DIFFERENT label —
    * the near-misses a contrastive loss learns the most from (the
    * in-batch-negatives upgrade every embedding-training pipeline
    * ships eventually). Same plan shape as [[annBruteforceTopk]]:
    * broadcast query set, one corpus scan with the label-mismatch
    * predicate evaluated map-side BEFORE any shuffle (the codegen'd
    * cosine runs only on surviving rows), two-phase salted top-k on
    * (qid, vid, sim) scalars. The corpus never shuffles; at 100 TB
    * the scale variant swaps the scan for the LSH/IVF candidate
    * generators exactly as the ANN family does. SQL oracle:
    * list_cosine_similarity with the label filter — hash-exact. */
  def embedHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftExtensions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding", $"label")
    val queries = emb.filter($"vec_id" < NQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"), $"label".as("qlabel"))

    val scored = emb.join(broadcast(queries),
        $"vec_id" =!= $"qid" && $"label" =!= $"qlabel")
      .select($"qid", $"vec_id".as("vid"),
        Similarity.cosine($"qvec", $"embedding").as("sim"))

    topKPerQuery(scored)
  }

  /** LSH-bucketed ANN: 16-bit random-hyperplane signatures, 4×4-bit
    * bands; a corpus vector is scored only when it shares a band value
    * with the query — the scale path where scoring the full corpus per
    * query is too expensive. Same two-phase top-k (rows oracle:
    * approximate recall is not SQL-expressible). */
  def annLshTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftExtensions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val bucketed = Similarity.hyperplaneBucketsDf(emb, "vec_id", "embedding", 16, 4)
      .join(emb, "vec_id")
      .select($"vec_id", $"embedding", explode($"bands").as("bb"))
      .select($"vec_id", $"embedding", $"bb.band", $"bb.band_bits")

    val queries = bucketed.filter($"vec_id" < NQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"), $"band", $"band_bits")

    val scored = bucketed.join(broadcast(queries),
        Seq("band", "band_bits"))
      .filter($"vec_id" =!= $"qid")
      // score BEFORE the multi-band dedup: cosine is a codegen'd scalar,
      // so the distinct shuffles (qid, vid, sim) scalars instead of two
      // full embedding arrays per row (re-scoring a duplicated pair is
      // cheaper than shuffling its vectors)
      .select($"qid", $"vec_id".as("vid"), Similarity.cosine($"qvec", $"embedding").as("sim"))
      .distinct() // a pair may share several bands

    topKPerQuery(scored)
  }

  /** MMR diversity re-rank — the standard last stage of a retrieval
    * pipeline: from each query's exact top-`MmrPool` candidates,
    * greedily select `K` maximizing
    * λ·sim(q,d) − (1−λ)·max_{d' selected} sim(d,d'), so near-duplicate
    * hits don't crowd the result list. The candidate pool comes from
    * the same broadcast-query scan + two-phase top-k as the exact
    * path; the greedy selection is a per-query JVM fold over
    * `MmrPool`×64 floats — grouped BY QUERY KEY, so it parallelizes
    * across queries and each group's state is pool-bounded, corpus-
    * independent. The corpus is perturbation-doubled (as in
    * dedup_embedding_cosine) so real near-dup candidates exist for
    * the diversity term to suppress; MmrSpec pins suppression and
    * greedy-trace agreement. Rows oracle (iterative selection isn't
    * SQL-expressible). */
  def annMmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftExtensions.ensureRegistered(spark)
    val base = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val corpus = base.union(Tables.nearDupTwins(base))
    val queries = base.filter($"vec_id" < NQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))

    // Score on SCALARS only — the embedding column must not enter the
    // top-k windows: those exchanges carry |corpus|×|queries| rows, and
    // a 64-float array per row would be ~10× the bytes of (qid,vid,sim).
    val scored = corpus.join(broadcast(queries), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("vid"),
        Similarity.cosine($"qvec", $"embedding").as("sim"))
    // pool = exact top-MmrPool (two-phase, as in topKPerQuery)
    val partial = Window.partitionBy($"qid", pmod(xxhash64($"vid"), lit(Salts)))
      .orderBy($"sim".desc, $"vid")
    val fin = Window.partitionBy($"qid").orderBy($"sim".desc, $"vid")
    val poolScalars = scored
      .withColumn("prk", row_number().over(partial)).filter($"prk" <= MmrPool)
      .withColumn("rk", row_number().over(fin)).filter($"rk" <= MmrPool)
      .select($"qid", $"rk", $"vid", $"sim")
    // Join embeddings back for the <= NQueries×MmrPool pool rows only:
    // broadcast the tiny pool against a second corpus scan — the corpus
    // still never shuffles, and the re-scan costs one parquet pass
    // instead of an embedding-wide window exchange.
    val pool = corpus.join(broadcast(poolScalars), $"vec_id" === $"vid")
      .select($"qid", $"rk", $"vid", $"sim", $"embedding")

    val selectUdf = udf { cands: Seq[org.apache.spark.sql.Row] =>
      val byVid = cands.map(r => r.getLong(1) -> r.getDouble(2)).toMap
      mmrSelect(cands.map(r => (r.getLong(1), r.getDouble(2),
        r.getSeq[Float](3).toArray)), K, MmrLambda)
        .map(vid => (vid, byVid(vid)))
    }
    pool
      // sort_array on (rk, ...) fixes candidate order by query rank, so
      // the greedy tie-break is deterministic under any partitioning
      .groupBy($"qid")
      .agg(sort_array(collect_list(struct($"rk".cast("long").as("rk"),
        $"vid", $"sim", $"embedding"))).as("cands"))
      .select($"qid", posexplode(selectUdf($"cands")))
      .select($"qid", ($"pos" + 1).cast("long").as("rk"), $"col._1".as("vid"),
        floor(lit(1000.0) * $"col._2" + lit(0.5)).cast("long").as("sim_mbp"))
      .orderBy($"qid", $"rk")
  }

  /** Greedy MMR over (vid, sim-to-query, embedding) candidates in
    * query-rank order; returns selected vids in selection order.
    * Ties go to the earlier (higher-ranked) candidate — deterministic.
    * Pure function — spec-tested against a hand trace. */
  private[graft] def mmrSelect(
      cands: Seq[(Long, Double, Array[Float])], k: Int, lambda: Double): Seq[Long] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val n = cands.length
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val inSet = new Array[Boolean](n)
    var exhausted = false
    while (!exhausted && chosen.length < math.min(k, n)) {
      var bestI = -1; var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!inSet(i)) {
          // true max-similarity diversity term (may be NEGATIVE for
          // anti-correlated vectors — the Carbonell-Goldstein formula
          // then REWARDS the candidate; a 0-clamp would silently
          // deviate from the cited definition); 0.0 for the first pick
          var div = Double.NegativeInfinity
          chosen.foreach { j => val c = cos(cands(i)._3, cands(j)._3); if (c > div) div = c }
          if (chosen.isEmpty) div = 0.0
          val score = lambda * cands(i)._2 - (1 - lambda) * div
          if (score > bestScore) { bestScore = score; bestI = i }
        }
        i += 1
      }
      // every remaining candidate scored NaN (non-finite sim or vector
      // slipped in): nothing is comparable under >, so bestI never
      // advanced — returning the picks so far beats indexing -1
      if (bestI < 0) exhausted = true
      else { chosen += bestI; inSet(bestI) = true }
    }
    chosen.map(i => cands(i)._1).toSeq
  }

  /** Two-phase top-k: partial top-k inside (qid, salt) buckets — ~k
    * survivors per bucket — then a final tiny window over qid only.
    * The global window never sees more than Salts*K rows per query,
    * so a hot query key cannot skew a single task at 100× scale. */
  private[operators] def topKPerQuery(scored: DataFrame): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val partial = Window.partitionBy($"qid", pmod(xxhash64($"vid"), lit(Salts)))
      .orderBy($"sim".desc, $"vid")
    val fin = Window.partitionBy($"qid").orderBy($"sim".desc, $"vid")
    scored
      .withColumn("prk", row_number().over(partial)).filter($"prk" <= K)
      .withColumn("rk", row_number().over(fin)).filter($"rk" <= K)
      .select($"qid", $"rk".cast("long").as("rk"), $"vid",
        floor(lit(1000.0) * $"sim" + lit(0.5)).cast("long").as("sim_mbp"))
      .orderBy($"qid", $"rk")
  }
}
