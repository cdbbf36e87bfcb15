package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.Similarity

/** Similarity search over the `embeddings` table (SURVEY §2.5).
  *
  * Scale posture: the query set is small and BROADCAST; the corpus —
  * the 100 TB side — is scanned exactly once and never shuffled for
  * the scoring join. Every ANN operator here and in [[IvfQueries]] and
  * [[PqQueries]] takes its queries from [[querySet]], scores through
  * [[scoreAll]] (PQ re-scores its ADC shortlist instead) and ranks and
  * renders through [[topKPerQuery]], whose [[TopK.perGroup]] kernel
  * limits each query to k rows per map partition before its exchange,
  * so no single per-query partition sees the whole corpus.
  */
object AnnQueries {

  private[operators] val K = 5
  private[operators] val NQueries = 10
  private val MmrPool = 20  // candidates considered by the greedy re-rank
  private val MmrLambda = 0.7 // relevance vs diversity trade-off

  /** Exact cosine top-k per query vector: broadcast queries × corpus,
    * codegen'd double-accumulated cosine, [[TopK.perGroup]] top-k.
    * Similarity reported in exact-ranked order; the value column is
    * rounded to integer milli-points (cross-engine float noise ~1e-8
    * never moves a rank: adjacent ranked sims differ by >= 1.9e-5 in
    * this corpus). */
  def annBruteforceTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    topKPerQuery(scoreAll(emb, querySet(emb)))
  }

  /** Hard-negative mining for contrastive training: per query vector,
    * the top-k most-similar corpus vectors with a DIFFERENT label —
    * the near-misses a contrastive loss learns the most from (the
    * in-batch-negatives upgrade every embedding-training pipeline
    * ships eventually). Same plan shape as [[annBruteforceTopk]]:
    * broadcast query set, one corpus scan with the label-mismatch
    * predicate evaluated map-side BEFORE any shuffle (the codegen'd
    * cosine runs only on surviving rows), the same top-k on
    * (qid, vid, sim) scalars. The corpus never shuffles; at 100 TB
    * the scale variant swaps the scan for the LSH/IVF candidate
    * generators exactly as the ANN family does. SQL oracle:
    * list_cosine_similarity with the label filter — hash-exact. */
  def embedHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding", $"label")
    val queries = querySet(emb, $"label".as("qlabel"))
    topKPerQuery(scoreAll(emb, queries, $"label" =!= $"qlabel"))
  }

  /** LSH-bucketed ANN: 16-bit random-hyperplane signatures, 4×4-bit
    * bands; a corpus vector is scored only when it shares a band value
    * with the query — the scale path where scoring the full corpus per
    * query is too expensive. Same top-k (rows oracle:
    * approximate recall is not SQL-expressible). */
  def annLshTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val bucketed = Similarity.hyperplaneBucketsDf(emb, "vec_id", "embedding", 16, 4)
      .join(emb, "vec_id")
      .select($"vec_id", $"embedding", explode($"bands").as("bb"))
      .select($"vec_id", $"embedding", $"bb.band", $"bb.band_bits")

    val queries = querySet(bucketed, $"band".as("qband"), $"band_bits".as("qbits"))

    // score BEFORE the multi-band dedup: cosine is a codegen'd scalar,
    // so the distinct shuffles (qid, vid, sim) scalars instead of two
    // full embedding arrays per row (re-scoring a duplicated pair is
    // cheaper than shuffling its vectors)
    val scored = scoreAll(bucketed, queries, $"band" === $"qband" && $"band_bits" === $"qbits")
      .distinct() // a pair may share several bands

    topKPerQuery(scored)
  }

  /** MMR diversity re-rank — the standard last stage of a retrieval
    * pipeline: from each query's exact top-`MmrPool` candidates,
    * greedily select `K` maximizing
    * λ·sim(q,d) − (1−λ)·max_{d' selected} sim(d,d'), so near-duplicate
    * hits don't crowd the result list. The candidate pool comes from
    * the same broadcast-query scan + top-k as the exact
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
    val base = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val corpus = base.union(Tables.nearDupTwins(base))
    // pool = exact top-MmrPool, ranked on scoreAll's scalars
    val poolScalars = TopK.perGroup(scoreAll(corpus, querySet(base)),
        Seq($"qid"), $"sim".desc, $"vid", MmrPool)
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
      .select($"qid", ($"pos" + 1).as("rk"), $"col._1".as("vid"), $"col._2".as("sim"))
      .transform(render)
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

  /** The query set: the vectors with `vec_id < NQueries`, as
    * (qid, qvec, carry...). */
  private[operators] def querySet(vecs: DataFrame, carry: Column*): DataFrame =
    vecs.filter(col("vec_id") < NQueries)
      .select(Seq(col("vec_id").as("qid"), col("embedding").as("qvec")) ++ carry: _*)

  /** The scoring body: each corpus vector against each broadcast query
    * it is paired with by `on`, never itself, as (qid, vid, sim). Only
    * these scalars leave the scan: the top-k exchanges carry
    * |corpus|×|queries| rows, and a 64-float array per row would be
    * ~10× the bytes. */
  private[operators] def scoreAll(
      corpus: DataFrame, queries: DataFrame, on: Column = lit(true)): DataFrame =
    corpus.join(broadcast(queries), col("vec_id") =!= col("qid") && on)
      .select(col("qid"), col("vec_id").as("vid"),
        Similarity.cosine(col("qvec"), col("embedding")).as("sim"))

  /** The top-K (qid, vid, sim) rows per query, exact ([[TopK.perGroup]]),
    * rendered. */
  private[operators] def topKPerQuery(scored: DataFrame): DataFrame =
    render(TopK.perGroup(scored, Seq(col("qid")), col("sim").desc, col("vid"), K))

  /** The ANN output: (qid, rk: long, vid, sim_mbp) in (qid, rk) order,
    * the similarity rounded half-up to integer milli-points. */
  private def render(ranked: DataFrame): DataFrame =
    ranked.select(col("qid"), col("rk").cast("long").as("rk"), col("vid"),
        floor(lit(1000.0) * col("sim") + lit(0.5)).cast("long").as("sim_mbp"))
      .orderBy(col("qid"), col("rk"))
}
