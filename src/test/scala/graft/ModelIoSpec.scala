package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.io.ModelIO
import graft.operators.IvfQueries

import graft.text.Bpe

/** Model persistence (the train/serve split): every artifact must
  * round-trip parquet BIT-exactly — a served model that differs from
  * the trained one by even an ulp silently changes cell assignments
  * and scores, which is exactly the non-reproducibility the split is
  * meant to kill. */
class ModelIoSpec extends AnyFunSuite with SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_model_$name").resolve("m").toString

  test("centroids round-trip bit-exactly and the served IVF path equals the trained one") {
    val centroids = IvfQueries.trainCentroids(spark, sf)
    val path = tmp("centroids")
    ModelIO.saveCentroids(spark, centroids, path)
    val loaded = ModelIO.loadCentroids(spark, path)
    assert(loaded.length === centroids.length)
    centroids.zip(loaded).foreach { case (a, b) => assert(a.sameElements(b)) }

    val trained = IvfQueries.annIvfTopk(spark, sf).collect().toSeq
    val served = IvfQueries.annIvfTopkWith(spark, sf, loaded).collect().toSeq
    assert(served === trained)
  }

  test("the served gate twins (full train→save→load→serve) equal their inline twins") {
    // these are the gate-registered entry points — the equality here is
    // what lets their CORRECTNESS rows stand in for the serve path
    assert(IvfQueries.annIvfTopkServed(spark, sf).collect().toSeq ===
      IvfQueries.annIvfTopk(spark, sf).collect().toSeq)
    assert(graft.operators.CorpusQueries.textLmScoreHeadServed(spark, sf).collect().toSeq ===
      graft.operators.CorpusQueries.textLmScoreHead(spark, sf).collect().toSeq)
    graft.CacheLedger.releaseAll() // textLmScoreHead registers its persisted frame
  }

  test("annIvfTopkWith fails loudly on an empty, ragged, or wrong-dimension quantizer") {
    intercept[IllegalArgumentException] {
      IvfQueries.annIvfTopkWith(spark, sf, Array.empty[Array[Float]])
    }
    intercept[IllegalArgumentException] {
      IvfQueries.annIvfTopkWith(spark, sf, Array(Array(1f, 2f), Array(1f)))
    }
    // uniform but not the embedding dimension: previously silently
    // truncated by assign() and null-padded by zip_with
    intercept[IllegalArgumentException] {
      IvfQueries.annIvfTopkWith(spark, sf, Array(Array(1f, 2f, 3f)))
    }
  }

  test("PQ codebooks round-trip bit-exactly and the served ADC search equals the trained one") {
    val books = graft.operators.PqQueries.trainCodebooks(spark, sf)
    val path = tmp("books")
    ModelIO.saveCodebooks(spark, books, path)
    val loaded = ModelIO.loadCodebooks(spark, path)
    assert(loaded.length === books.length)
    books.zip(loaded).foreach { case (b, l) =>
      assert(l.length === b.length)
      b.zip(l).foreach { case (c, d) => assert(c.sameElements(d)) }
    }

    val trained = graft.operators.PqQueries.annPqTopk(spark, sf).collect().toSeq
    val served = graft.operators.PqQueries.annPqTopkWith(spark, sf, loaded).collect().toSeq
    assert(served === trained)

    // ragged shapes (unequal centroid counts and subspace dims) must
    // survive the round trip too — the loader reshapes by explicit
    // (subspace, code) keys, never by fixed stride
    val ragged: Array[Array[Array[Float]]] = Array(
      Array(Array(1.0f, 2.0f), Array(3.0f, 4.0f), Array(5.0f, 6.0f)),
      Array(Array(7.0f), Array(8.0f)))
    val rPath = tmp("ragged")
    ModelIO.saveCodebooks(spark, ragged, rPath)
    val rLoaded = ModelIO.loadCodebooks(spark, rPath)
    assert(rLoaded.length === ragged.length)
    ragged.zip(rLoaded).foreach { case (b, l) =>
      assert(l.length === b.length)
      b.zip(l).foreach { case (c, d) => assert(c.sameElements(d)) }
    }
    // and the PQ serve path refuses a wrong-shaped artifact loudly
    intercept[IllegalArgumentException](
      graft.operators.PqQueries.annPqTopkWith(spark, sf, rLoaded))
  }

  test("BPE merges round-trip in rank order and the served encode equals the trained one") {
    val words = Seq(("lower", 5L), ("lowest", 3L), ("newer", 4L), ("wider", 2L))
    val merges = Bpe.train(words, 12)
    assert(merges.nonEmpty)
    val path = tmp("bpe")
    ModelIO.saveBpeMerges(spark, merges, path)
    val loaded = ModelIO.loadBpeMerges(spark, path)
    assert(loaded === merges)
    words.map(_._1).foreach { w =>
      assert(Bpe.encode(w, loaded) === Bpe.encode(w, merges))
    }

    // corpus-trained table through the persistence round trip drives
    // the distributed encoder to the identical subword streams
    val corpusMerges = graft.operators.CorpusQueries.trainBpeMerges(spark, sf)
    val path2 = tmp("bpe_corpus")
    ModelIO.saveBpeMerges(spark, corpusMerges, path2)
    val trained = graft.operators.CorpusQueries.textBpeEncode(spark, sf).collect().toSeq
    val served = graft.operators.CorpusQueries
      .textBpeEncodeWith(spark, sf, ModelIO.loadBpeMerges(spark, path2)).collect().toSeq
    assert(served === trained)
  }

  test("LM head round-trips as a distributed frame and rejects a non-model path") {
    import spark.implicits._
    val docs = Tables.widened(Tables.documents(spark, sf))
    val model = graft.operators.CorpusQueries.trainLmHead(spark, sf, minCount = 1L)
    val path = tmp("lmhead")
    ModelIO.saveLmHead(model, path)
    val loaded = ModelIO.loadLmHead(spark, path)
    val a = model.select($"g", $"bp").collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val b = loaded.collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(b === a)

    val bad = tmp("notamodel")
    docs.select($"doc_id").write.parquet(bad)
    intercept[IllegalArgumentException](ModelIO.loadLmHead(spark, bad))
  }
}
