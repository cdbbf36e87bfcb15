package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.{LocalKMeans, Similarity}

/** Product-quantization ANN (Jégou et al. '11) — the memory-scale path
  * of the similarity family: each 64-float vector compresses to M=8
  * one-byte codes (32× smaller), and queries score codes via
  * asymmetric distance computation (ADC) — table lookups, no float
  * vectors touched at scan time.
  *
  * Build: the vector is split into 8 contiguous 8-dim subvectors; each
  * subspace gets its own 16-centroid k-means codebook (driver-side
  * Lloyd's over a bounded deterministic sample — the FAISS shape); a
  * vector's code is its nearest centroid per subspace, assigned in one
  * broadcast-codebook map pass. Search: for a
  * query, the exact distance from its subvector to every centroid of
  * every subspace forms a tiny (M × 16) lookup table; the approximate
  * squared L2 distance to ANY corpus vector is the sum of 8 table
  * entries selected by that vector's codes.
  *
  * Search is the production two-stage shape: the ADC scan produces a
  * SHORTLIST (top-`Shortlist` per query by approximate distance), and
  * only shortlist vectors have their floats fetched for an exact
  * cosine re-rank — recall comes from the shortlist width, exactness
  * of the reported scores from the re-rank. On this corpus the
  * similarity signal is weak (near-uniform ~0.5 pairwise), which is
  * exactly when raw ADC ranking degrades and re-ranking earns its
  * keep.
  *
  * Scale posture: the codebooks are M × 16 × 8 floats (4 KiB) —
  * broadcast trivially; the ADC scan reads 8 bytes per vector where
  * brute force reads 256; the per-query distance tables are a
  * 1280-row broadcast join; the score aggregation is one (qid, vid)
  * combine-heavy shuffle; shortlist + final top-k both go through
  * [[TopK.perGroup]] (no hot-query window skew); the re-rank join
  * touches Shortlist vectors per query, not the corpus. Embeddings
  * are unit-norm, so approx cosine = 1 − d²/2 ranks identically to
  * approx L2. Rows-oracle (k-means codebooks aren't SQL-expressible);
  * PqSpec pins recall@5 against exact brute force, the exactness of
  * re-ranked scores, and the code-range/compression contracts.
  */
object PqQueries {

  private val M = 8 // subspaces
  private val SubDim = 8 // dims per subspace (64 total)
  private val Ks = 16 // centroids per codebook
  private val Shortlist = 50 // ADC candidates re-ranked exactly per query

  /** How many vectors the codebooks train on. Codebook quality needs a
    * REPRESENTATIVE sample, not the corpus: 4096 points per 16-centroid
    * 8-dim codebook is ~256× oversampled. This is the FAISS convention
    * (train on a bounded sample, encode the full corpus), and it is
    * what makes training O(1) while encoding stays O(n). */
  private val TrainSample = 4096

  /** (corpusCodes, centroidsDf): corpus (vec_id, embedding, sub, code)
    * melted one row per subspace, and the codebooks as a tiny frame
    * (sub, code, centroid: array<float>).
    *
    * Training: driver-side Lloyd's over `TrainSample` vectors chosen
    * by hash order of vec_id (deterministic AND unbiased). Encoding: one
    * map pass over the corpus with the 4 KiB codebook broadcast — the
    * JVM argmin `LocalKMeans.assignWithD2` per subspace, read in place;
    * a Catalyst HOF argmin over 128 literal arrays would be interpreted
    * per element and slower than this single call. */
  private[graft] def encode(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    encodeWith(spark, dir, trainCodebooks(spark, dir))

  /** The training half of the train/serve split: fit the per-subspace
    * codebooks alone, e.g. to persist via [[graft.io.ModelIO.saveCodebooks]]
    * and serve from in later runs. */
  def trainCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Float]]] = {
    val sample = LocalKMeans.sample(
      Tables.embeddings(spark, dir), "vec_id", "embedding", TrainSample)
    (0 until M).toArray.map { s =>
      LocalKMeans.train(sample.map(_.slice(s * SubDim, (s + 1) * SubDim)), Ks, 5, 42L + s)
    }
  }

  private[graft] def encodeWith(
      spark: SparkSession, dir: String,
      codebooks: Array[Array[Array[Float]]]): (DataFrame, DataFrame) = {
    import spark.implicits._
    // fail loudly at plan time: the encode kernel below indexes the
    // fixed (M, Ks, SubDim) geometry, so a persisted artifact of any
    // other shape would otherwise throw deep inside executor tasks
    // (smaller) or be silently truncated into wrong codes (larger)
    require(codebooks.length == M &&
      codebooks.forall(b => b.length == Ks && b.forall(_.length == SubDim)),
      s"codebook shape mismatch: expected ${M}x${Ks}x$SubDim, got " +
        s"${codebooks.length}x${codebooks.headOption.map(_.length).getOrElse(0)}x" +
        s"${codebooks.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)}")
    val emb = Tables.widened(Tables.embeddings(spark, dir)).select($"vec_id", $"embedding")

    val cb = spark.sparkContext.broadcast(codebooks)
    val codesOf = udf { (e: Seq[Float]) =>
      val arr = e.toArray
      Array.tabulate(M)(s => LocalKMeans.assignWithD2(cb.value(s), arr, s * SubDim, SubDim)._1)
    }
    val melted = emb.select($"vec_id", $"embedding", posexplode(codesOf($"embedding")))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "code")

    val centroids = codebooks.zipWithIndex.flatMap { case (cbS, s) =>
      cbS.zipWithIndex.map { case (c, j) => (s, j, c.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")

    (melted, centroids)
  }

  def annPqTopk(spark: SparkSession, dir: String): DataFrame =
    annPqTopkWith(spark, dir, trainCodebooks(spark, dir))

  /** The serving half: ADC search under PRE-TRAINED codebooks
    * (typically [[graft.io.ModelIO.loadCodebooks]] output) —
    * bit-identical codebooks give bit-identical codes, shortlists and
    * re-ranked results, so a persisted model serves reproducibly with
    * no training scan. */
  def annPqTopkWith(
      spark: SparkSession, dir: String,
      codebooks: Array[Array[Array[Float]]]): DataFrame = {
    import spark.implicits._
    val (corpus, centroids) = encodeWith(spark, dir, codebooks)

    // ADC lookup tables: exact squared L2 from each query SUBVECTOR to
    // each centroid — NQueries × M × Ks rows, broadcast everywhere
    val queries = AnnQueries.querySet(Tables.embeddings(spark, dir))
    val tables = queries.crossJoin(broadcast(centroids))
      .select($"qid", $"sub", $"code",
        Similarity.bound(slice($"qvec", $"sub" * SubDim + 1, lit(SubDim))) { qs =>
          aggregate(zip_with(qs, $"centroid",
            (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x)
        }.as("partial"))

    // ADC scan: 8 table lookups per (query, vector), summed. The join
    // is a broadcast (tables are tiny); the aggregation combines
    // map-side so the shuffle carries one row per (qid, vid) per task.
    val adc = corpus
      .select($"vec_id", $"sub", $"code") // codes only: 8 bytes/vector, never the floats
      .join(broadcast(tables), Seq("sub", "code"))
      .filter($"vec_id" =!= $"qid")
      .groupBy($"qid", $"vec_id".as("vid"))
      .agg(sum($"partial").as("d2"))

    // shortlist: top-Shortlist by approximate distance
    val shortlist = TopK.perGroup(adc, Seq($"qid"), $"d2".asc, $"vid", Shortlist)
      .select($"qid", $"vid")

    // exact re-rank: fetch floats for shortlist vectors ONLY, score
    // with the codegen cosine kernel, report exact sims (unit-norm:
    // same convention as the other ANN queries)
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val reranked = shortlist
      .join(emb.select($"vec_id".as("vid"), $"embedding".as("cvec")), "vid")
      .join(broadcast(queries), "qid")
      .select($"qid", $"vid", Similarity.cosine($"qvec", $"cvec").as("sim"))

    AnnQueries.topKPerQuery(reranked)
  }

  /** Scalar int8 quantization of the embedding corpus — the 4×
    * compression every vector store applies at ingestion (PQ above is
    * the 32× variant; int8 is the accuracy-first one): per vector,
    * scale = max|x| / 127, code_d = round-half-up(x_d / scale) clamped
    * to [-127, 127] (an all-zero vector quantizes to all-zero codes).
    * Reported per vector: the scale in exact nano-units, saturated-dim
    * and zeroed-dim counts, the code sum, and an md5 over the
    * comma-joined code stream — so the gate pins the exact code
    * assignment byte-for-byte, not just summary stats.
    *
    * Exactness: float→double widening is exact, max over exact values
    * is exact, and both engines state the SAME IEEE division and
    * floor(x + 0.5) half-up — so codes are cross-engine bit-identical
    * (no round()/bround() banker's-rounding divergence).
    *
    * Scale posture: a pure map pass — zero shuffles before the final
    * ordered output; per-element work uses Catalyst HOFs (interpreted
    * per element, but one pass over 64 dims — the measured HOF tax
    * matters on the 64-LANE signature builds, not here where the work
    * per element is one divide; bench carries the honest number). */
  def embedInt8Quantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val xs = transform($"embedding", x => x.cast("double"))
    val scale = array_max(transform($"embedding", x => abs(x.cast("double")))) / lit(127.0)
    val codes = transform(xs, x =>
      when($"scale" === 0d, lit(0L)).otherwise(
        greatest(least(floor(x / $"scale" + lit(0.5)), lit(127L)), lit(-127L))
          .cast("long")))
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", scale.as("scale"))
      .select($"vec_id", size($"embedding").cast("long").as("n_dims"),
        floor($"scale" * lit(1e9) + lit(0.5)).cast("long").as("scale_e9"),
        codes.as("codes"))
      .select($"vec_id", $"n_dims", $"scale_e9",
        size(filter($"codes", c => abs(c) === 127L)).cast("long").as("n_sat"),
        size(filter($"codes", c => c === 0L)).cast("long").as("n_zero"),
        aggregate($"codes", lit(0L), (acc, c) => acc + c).as("code_sum"),
        md5(concat_ws(",", transform($"codes", _.cast("string")))).as("code_md5"))
      .orderBy($"vec_id")
  }
}
