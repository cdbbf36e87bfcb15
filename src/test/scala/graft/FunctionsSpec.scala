package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CosineSimilarity, GraftExtensions, TextScanCounts}
import graft.similarity.Similarity

/** Native CosineSimilarity expression: equivalence with the
  * declarative higher-order formulation, SQL registration through
  * GraftExtensions, and both eval paths. */
class FunctionsSpec extends AnyFunSuite with SparkSpec {

  test("native cosine == higher-order cosine on real embeddings") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding").limit(50)
    val pairs = emb.as("a").crossJoin(emb.as("b")).filter($"a.vec_id" < $"b.vec_id")
    val diffs = pairs.select(
        (Similarity.cosine($"a.embedding", $"b.embedding") -
          Similarity.cosineHof($"a.embedding", $"b.embedding")).as("d"))
      .agg(max(abs($"d"))).collect()(0).getDouble(0)
    assert(diffs === 0.0, "native and HOF cosine must agree bit-for-bit")
  }

  test("graft_cosine is registered via spark.sql.extensions") {
    import spark.implicits._
    val got = spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT)))").collect()(0).getDouble(0)
    assert(math.abs(got - 1.0 / math.sqrt(2.0)) < 1e-12)
  }

  test("interpreted eval matches codegen") {
    val xs = Array(1.0f, 2.0f, -3.0f)
    val ys = Array(0.5f, -1.0f, 2.0f)
    val expr = CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(xs,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(ys,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    val interp = expr.eval(null).asInstanceOf[Double]
    val dot = xs.zip(ys).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val expected = dot / (math.sqrt(xs.map(x => x.toDouble * x).sum) *
      math.sqrt(ys.map(y => y.toDouble * y).sum))
    assert(math.abs(interp - expected) < 1e-15)
  }

  test("null input yields null") {
    import spark.implicits._
    val df = Seq((Some(Seq(1.0f, 2.0f)), Option.empty[Seq[Float]])).toDF("a", "b")
    val r = df.select(Similarity.cosine($"a", $"b").as("c")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("operators run in a session without the seven functions and register none") {
    val session = spark.newSession()
    val registry = session.sessionState.functionRegistry
    val ids = GraftExtensions.Functions.map(_._1)
    assert(ids.map(_.funcName).toSet === Set("graft_cosine", "graft_bottomk",
      "graft_topfreq", "graft_bloom_agg", "graft_bloom_contains", "graft_text_counts",
      "graft_shingle_hashes"))
    ids.foreach(id => assert(registry.dropFunction(id), s"$id was not injected"))
    ids.foreach(id => assert(!registry.functionExists(id), s"$id still resolves"))
    assert(spark.sessionState.functionRegistry.functionExists(ids.head),
      "dropping from the new session must not touch the shared one")

    // between them these reach every Column built from a graft
    // function, and all seven functions
    Seq("text_quality_score", "text_curate", "dedup_cluster_rep", "ann_bruteforce_topk",
      "q_heavy_hitters", "q_bloom_prune_join", "url_domain_stats", "docs_source_cap",
      "q_sample_deterministic").foreach { name =>
      try SparkEntry.queries(name)(session, sf)
        .write.format("noop").mode("overwrite").save()
      finally CacheLedger.releaseAll()
    }
    ids.foreach(id => assert(!registry.functionExists(id), s"$id was registered"))
  }

  test("text scan counts: interpreted eval matches codegen; null yields null") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq("the a 一二三 x!?", " \t mixed the\tder le ", "", "🙂 the 🚀")
    // interpreted path: direct eval on the expression
    val interp = cases.map { s =>
      val row = TextScanCounts(org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType))
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      (row.getInt(0), row.getInt(1), row.getInt(2), row.getInt(3), row.getInt(4),
        row.getArray(5).toIntArray.toSeq)
    }
    // codegen path: through the built Column in a projection
    val fromDf = cases.toDF("t")
      .select(graft.text.TextFunctions.scanCounts(col("t")).as("c"))
      .collect().map { r =>
        val row = r.getStruct(0)
        (row.getInt(0), row.getInt(1), row.getInt(2), row.getInt(3), row.getInt(4),
          row.getSeq[Int](5))
      }
    assert(interp === fromDf.toSeq)
    val nullRow = Seq(Option.empty[String]).toDF("t")
      .select(graft.text.TextFunctions.scanCounts(col("t"))).collect()(0)
    assert(nullRow.isNullAt(0))
  }
}
