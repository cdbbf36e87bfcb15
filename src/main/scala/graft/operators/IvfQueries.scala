package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.{LocalKMeans, Similarity}

/** IVF (inverted-file) ANN — the coarse-quantizer scale path
  * alongside the LSH variant (SURVEY §2.5 extension).
  *
  * Build: the `nlist`-cell coarse quantizer trains driver-side on a
  * hash-ordered bounded sample (LocalKMeans — the FAISS convention;
  * a distributed fit of a 16×64-float model is pure fixed job
  * latency), then the corpus is assigned to cells in one
  * broadcast-centroid map pass. Search: a query scores only the
  * vectors whose cell centroid is among its `nprobe` nearest — at
  * 100 TB, the corpus is written partitioned BY CELL, so a probe
  * reads nprobe/nlist of the data and nothing else shuffles. Locally
  * the cell assignment is a column and the probe is a broadcast
  * semi-join on (cell).
  */
object IvfQueries {

  private val NList = 16
  private val NProbe = 6
  private val TrainSample = 4096

  def annIvfTopk(spark: SparkSession, dir: String): DataFrame =
    annIvfTopkWith(spark, dir, trainCentroids(spark, dir))

  /** Gate query for the persisted-quantizer round trip: train → save →
    * load → serve, the serving half running entirely from the LOADED
    * centroids ([[graft.io.ModelIO]] round-trips floats bit-exact, so
    * this is bit-identical to [[annIvfTopk]] — IvfSpec pins that). */
  def annIvfTopkServed(spark: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_io/ivf_centroids_${math.abs(dir.hashCode)}"
    graft.io.ModelIO.saveCentroids(spark, trainCentroids(spark, dir), path)
    annIvfTopkWith(spark, dir, graft.io.ModelIO.loadCentroids(spark, path))
  }

  /** The training half of the train/serve split: fit the coarse
    * quantizer alone, e.g. to persist via [[graft.io.ModelIO]] and
    * serve from in later runs. 5 Lloyd's iterations: cell assignments
    * stabilize well before centroid convergence, and IVF recall
    * depends only on assignments (probing covers NProbe cells
    * anyway). */
  def trainCentroids(spark: SparkSession, dir: String): Array[Array[Float]] = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val sample = LocalKMeans.sample(emb, "vec_id", "embedding", TrainSample)
    LocalKMeans.train(sample, NList, 5, 42L)
  }

  /** The serving half: run the IVF probe/score pipeline under a
    * PRE-TRAINED quantizer (typically [[graft.io.ModelIO.loadCentroids]]
    * output). Bit-identical centroids give bit-identical results, so a
    * persisted model makes serving reproducible across runs with no
    * training scan. */
  def annIvfTopkWith(
      spark: SparkSession, dir: String, centroids: Array[Array[Float]]): DataFrame = {
    import spark.implicits._

    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")

    // fail loudly at plan time, mirroring PqQueries.encodeWith: a
    // persisted artifact with a different dimension would otherwise be
    // silently truncated by LocalKMeans.assign (loops over the
    // centroid's length) and null-padded by Similarity.dot's zip_with —
    // wrong probe ranking instead of an error
    require(centroids.nonEmpty, "annIvfTopkWith: empty centroid set")
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim),
      s"annIvfTopkWith: ragged centroids (dims ${centroids.map(_.length).distinct.mkString(",")})")
    val embDim = emb.limit(1).select(size($"embedding")).as[Int].collect().headOption
    embDim.foreach(d => require(d == dim,
      s"annIvfTopkWith: centroid dim $dim != embedding dim $d"))

    // corpus annotated with its cell (at scale: the partitioning key)
    // in one map pass over the broadcast centroids
    val cb = spark.sparkContext.broadcast(centroids)
    val cellOf = udf { (e: Seq[Float]) => LocalKMeans.assign(cb.value, e.toArray) }
    val assigned = emb.select($"vec_id", $"embedding", cellOf($"embedding").as("cell"))

    // centroids as a tiny literal-backed frame (nlist × dim)
    val centers = centroids.zipWithIndex.map { case (c, i) =>
      (i, c.toSeq)
    }.toSeq.toDF("cell", "centroid")

    // each query probes its nprobe nearest cells — by EUCLIDEAN
    // distance, the metric k-means partitioned the space with (ranking
    // cells by cosine mismatches the cell geometry and costs recall):
    // ||q-c||² = ||q||² - 2q·c + ||c||², and ||q||² is constant per
    // query, so rank by ||c||² - 2q·c.
    val probes = TopK.perGroup(
        AnnQueries.querySet(emb).crossJoin(broadcast(centers)).withColumn("cdist",
          Similarity.dot($"centroid", $"centroid") - lit(2.0) * Similarity.dot($"qvec", $"centroid")),
        Seq($"qid"), $"cdist".asc, $"cell", NProbe)
      .select($"qid", $"qvec", $"cell".as("pcell"))

    // probe join: only vectors in probed cells are scored
    AnnQueries.topKPerQuery(AnnQueries.scoreAll(assigned, probes, $"cell" === $"pcell"))
  }
}
