package graft.similarity

/** Deterministic driver-side k-means for SMALL models over BOUNDED
  * samples — the codebook/coarse-quantizer trainer shared by the PQ
  * and IVF ANN paths.
  *
  * Rationale: these models are tiny (16 centroids × 8–64 dims) and
  * train on a few thousand sampled points, so a distributed fit buys
  * nothing and costs dozens of iterative jobs of pure fixed latency
  * (measured: the PQ query dropped 6.7 s → ~1 s when its 8 Spark ML
  * fits moved here). The FAISS convention is the same: train on a
  * sample, encode the corpus distributed.
  *
  * Seeded k-means++ init (distance-weighted, deterministic) + a fixed
  * Lloyd iteration count keep results reproducible run-to-run on any
  * partitioning. Empty clusters keep their previous centroid.
  */
object LocalKMeans {

  /** Deterministic unbiased training sample: the first `n` vectors in
    * HASH order of the id — id-prefix sampling would train on one
    * ingest block of a time/source-correlated corpus, and the
    * take-ordered top-n never moves more than n rows. Shared by every
    * trainer call site so the sampling policy can't silently diverge
    * between ANN paths. */
  def sample(
      df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, n: Int): Array[Array[Float]] = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val spark = df.sparkSession
    import spark.implicits._
    df.orderBy(xxhash64(col(idCol)), col(idCol)).limit(n)
      .select(col(vecCol)).as[Seq[Float]].collect().map(_.toArray)
  }

  /** @return k centroids, each of `points(0).length` dims */
  def train(points: Array[Array[Float]], k: Int, iters: Int, seed: Long): Array[Array[Float]] = {
    require(points.length >= k, s"need >= $k training points, got ${points.length}")
    val dim = points(0).length
    val rnd = new scala.util.Random(seed)

    def d2(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }

    // k-means++ seeding: first centroid uniform, each next drawn with
    // probability proportional to squared distance from the chosen set
    val centroids = new Array[Array[Float]](k)
    centroids(0) = points(rnd.nextInt(points.length)).clone
    val minD = points.map(p => d2(p, centroids(0)))
    var c = 1
    while (c < k) {
      val total = minD.sum
      val pick =
        if (total <= 0) rnd.nextInt(points.length) // degenerate: all points identical
        else {
          var r = rnd.nextDouble() * total
          var i = 0
          while (i < points.length - 1 && r > minD(i)) { r -= minD(i); i += 1 }
          i
        }
      centroids(c) = points(pick).clone
      var i = 0
      while (i < points.length) {
        val d = d2(points(i), centroids(c))
        if (d < minD(i)) minD(i) = d
        i += 1
      }
      c += 1
    }

    // Lloyd's iterations
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      points.foreach { p =>
        val best = assign(centroids, p)
        counts(best) += 1
        val s = sums(best); var i = 0
        while (i < dim) { s(i) += p(i); i += 1 }
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) centroids(j) = sums(j).map(x => (x / counts(j)).toFloat)
        j += 1
      }
    }
    centroids
  }

  /** Index of the nearest centroid to `p` (ties → lowest index). */
  def assign(centroids: Array[Array[Float]], p: Array[Float]): Int =
    assignWithD2(centroids, p)._1

  /** Nearest centroid index AND its squared euclidean distance — the
    * one argmin kernel shared by Lloyd's step in [[train]], the
    * distributed encoders (IVF/PQ/cluster assignment UDFs) and the spec
    * replays, so the distance/tie-break contract lives in exactly one
    * place. The four-argument form reads the subvector
    * `p(off until off + dim)` in place (PQ's per-subspace encode). */
  def assignWithD2(centroids: Array[Array[Float]], p: Array[Float]): (Int, Double) =
    assignWithD2(centroids, p, 0, p.length)

  def assignWithD2(
      centroids: Array[Array[Float]], p: Array[Float], off: Int, dim: Int): (Int, Double) = {
    var best = 0; var bestD = Double.MaxValue; var j = 0
    while (j < centroids.length) {
      var d = 0.0; var i = 0
      while (i < dim) { val t = p(off + i) - centroids(j)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    (best, bestD)
  }
}
