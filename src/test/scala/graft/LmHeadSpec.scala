package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusQueries

/** The head-model LM-score approximation contract
  * (CorpusQueries.textLmScoreHead): thresholding the broadcast model is
  * the ONLY approximation, and its error is exactly the dropped tail's
  * mass — not a fuzzy "close enough".
  */
class LmHeadSpec extends SparkSpec {
  import spark.implicits._

  test("minCount = 1 is bit-identical to the exact textLmScore") {
    val exact = CorpusQueries.textLmScore(spark, sf).collect().toSet
    val head1 = CorpusQueries.textLmScoreHead(spark, sf, minCount = 1L).collect().toSet
    assert(head1 === exact)
    CacheLedger.releaseAll()
  }

  test("hashed-gram pipeline == the string-keyed model path (r11 key swap)") {
    // textLmScoreHeadWith(trainLmHead(minCount=1)) is the STRING-keyed
    // pipeline end to end (trainLmHead groups bigram strings, the
    // scoring join keys on g); textLmScore is the r11 hashed-key fast
    // path. Equality pins that switching every grouping/join key to
    // xxhash64 longs changed nothing observable.
    val viaStrings = CorpusQueries
      .textLmScoreHeadWith(spark, sf, CorpusQueries.trainLmHead(spark, sf, minCount = 1L))
      .collect().toSet
    val hashed = CorpusQueries.textLmScore(spark, sf).collect().toSet
    assert(viaStrings === hashed)
    CacheLedger.releaseAll()
  }

  test("head error is one-sided and exactly the tail mass; n_bigrams unchanged") {
    val minCount = 2L
    val exact = CorpusQueries.textLmScore(spark, sf)
      .select($"doc_id", $"n_bigrams".as("n_e"), $"sum_bp".as("sum_e"))
    val head = CorpusQueries.textLmScoreHead(spark, sf, minCount)
      .select($"doc_id", $"n_bigrams".as("n_h"), $"sum_bp".as("sum_h"))

    // independent tail-mass derivation: per doc, Σ cnt·bp over grams
    // whose CORPUS count is below the threshold, with bp from the FULL
    // model (the head keeps surviving bp identical by construction)
    val grams = CorpusQueries.bigramInstances(
      Tables.widened(Tables.documents(spark, sf)))
    val docGrams = grams.groupBy($"doc_id", $"g").agg(count(lit(1)).as("cnt"))
    val c2 = docGrams.groupBy($"g").agg(sum($"cnt").as("c2"))
    val fullModel = CorpusQueries.lmModelFromCounts(c2, "g", substring_index($"g", " ", 1), 1L)
    val tail = docGrams
      .join(c2.filter($"c2" < minCount).select($"g"), "g")
      .join(fullModel, "g")
      .groupBy($"doc_id").agg(sum($"cnt" * $"bp").as("tail_bp"))

    val joined = exact.join(head, "doc_id")
      .join(tail, Seq("doc_id"), "left")
      .select($"doc_id", $"n_e", $"n_h", $"sum_e", $"sum_h",
        coalesce($"tail_bp", lit(0L)).as("tail_bp"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (doc, nE, nH, sE, sH, tailBp) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nE == nH, s"doc $doc: denominator changed $nE -> $nH")
      assert(sH <= sE, s"doc $doc: head score EXCEEDS exact ($sH > $sE)")
      assert(sE - sH == tailBp,
        s"doc $doc: error ${sE - sH} != tail mass $tailBp")
    }
    // the threshold must actually drop something on this corpus,
    // or the three asserts above are vacuous
    assert(joined.exists(r => r.getLong(3) != r.getLong(4)),
      "sf0.001 corpus has no singleton bigrams — contract untested")
    CacheLedger.releaseAll()
  }

  test("head bucketing at minCount = 1 equals exact docsQualityBuckets") {
    val exact = CorpusQueries.docsQualityBuckets(spark, sf).collect().toSet
    val head1 = CorpusQueries.docsQualityBucketsHead(spark, sf, minCount = 1L)
      .collect().toSet
    assert(head1 === exact)
    CacheLedger.releaseAll()
  }
}
