package graft.tools

import org.apache.spark.sql.functions._

import graft.{Harness, Tables}
import graft.operators.{AnnQueries, DedupQueries, IvfQueries, PqQueries}
import graft.similarity.{ConnectedComponents, Similarity}
import graft.text.TextFunctions

/** Bench-scale equivalence pins for the rows-only gate queries
  * (round 9, VERDICT r8 item 5): the 16 `no_oracle` queries are
  * guarded by in-Spark brute-force specs that execute on the tiny
  * sf0.001 spec corpus — this harness re-runs the KEY pins (minhash
  * no-FP + recall, simhash == all-pairs hamming<=3, embedding-cosine
  * clusters == brute force, IVF recall, PQ recall, MMR greedy trace)
  * at an arbitrary scale factor, so the equivalence guarantees are
  * exercised on the same data regime the gate and bench measure.
  *
  * Run: `runMain graft.tools.PinHarness <sfDir>` — one JSON line per
  * pin, nonzero exit if any fail. The brute-force sides are
  * distributed (all-pairs at sf0.1 is ~12.5M candidate pairs — fine
  * as a once-per-round check, never a library path).
  *
  * Kept as a main because it is the only check of these operators'
  * guarantees at bench scale: the DuckDB gate has no oracle for them,
  * and the specs run them only on the sf0.001 corpus.
  */
object PinHarness {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Harness.buildSession(dir, Harness.cpus)
    import spark.implicits._

    var failures = 0
    def pin(name: String)(body: => String): Unit = {
      val t0 = System.nanoTime()
      val (pass, detail) =
        try (true, body)
        catch {
          case e: AssertionError => (false, Option(e.getMessage).getOrElse("assert"))
          case e: Exception => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      if (!pass) failures += 1
      val secs = (System.nanoTime() - t0) / 1e9
      val q = graft.logging.JsonLogger.quote _
      println(s"""{"pin":${q(name)},"pass":$pass,"detail":${q(detail)},"secs":${f"$secs%.1f"}}""")
      graft.CacheLedger.releaseAll()
      spark.catalog.clearCache()
    }

    // ---- exact near-dup ground truth shared by the minhash pin ----
    // A pair sharing no 3-gram has Jaccard 0 < tau, so a join on shared
    // (distinct) grams counts `inter` for every pair that can pass, and
    // uni = |a| + |b| - inter. Independent of dedup_ngram_jaccard.
    def exactJaccardPairs(tau: Double): Set[(Long, Long)] = {
      val grams = Tables.documents(spark, dir)
        .select($"doc_id", Similarity.wordNgrams(TextFunctions.wsTokens($"text"), 3).as("g"))
        .select($"doc_id", size($"g").as("n"), explode($"g").as("gram"))
      val a = grams.toDF("id_a", "n_a", "gram")
      val b = grams.toDF("id_b", "n_b", "gram")
      a.join(b, "gram").filter($"id_a" < $"id_b")
        .groupBy($"id_a", $"id_b", $"n_a", $"n_b")
        .agg(count(lit(1)).cast("double").as("inter"))
        .filter($"inter" / ($"n_a" + $"n_b" - $"inter") >= tau)
        .select($"id_a", $"id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    pin("minhash_no_fp_and_recall") {
      val exact = exactJaccardPairs(0.7)
      assert(exact.nonEmpty, "corpus has no exact near-dup pairs")
      val clusters = DedupQueries.dedupMinhashLsh(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val byRep = clusters.groupBy(_._2).values.map(_.map(_._1).toSet).toSeq
      val exactAdj = exact.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      byRep.foreach(members => members.foreach { m =>
        assert(exactAdj.getOrElse(m, Set.empty).exists(members.contains),
          s"doc $m clustered without an exact near-dup edge in-cluster (FP)")
      })
      val recalled = exact.count { case (a, b) =>
        byRep.exists(ms => ms.contains(a) && ms.contains(b))
      }
      val recall = recalled.toDouble / exact.size
      assert(recall >= 0.9, s"recall $recall below 0.9 over ${exact.size} pairs")
      f"no FPs; recall $recall%.3f over ${exact.size} exact pairs"
    }

    pin("simhash_equals_all_pairs") {
      val got = DedupQueries.dedupSimhash(spark, dir)
        .select($"id_a", $"id_b", $"hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ex = Tables.documents(spark, dir)
        .select($"doc_id", explode(TextFunctions.wsTokens($"text")).as("tok"))
        .select($"doc_id", xxhash64($"tok").as("h"))
      val bitAggs = (0 until 64).map(j =>
        sum(shiftright($"h", j).bitwiseAND(lit(1L))).as(s"c$j"))
      val counted = ex.groupBy($"doc_id").agg(count(lit(1)).as("n"), bitAggs: _*)
      val sigBits = (0 until 64).map(j =>
        when(col(s"c$j") * 2 >= $"n", lit(1L << j)).otherwise(lit(0L)))
      val sigs = counted.select($"doc_id",
        sigBits.reduce((a, b) => a.bitwiseOR(b)).as("sig"))
      val brute = sigs.as("a").crossJoin(sigs.as("b"))
        .filter($"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id", $"b.doc_id",
          Similarity.hamming64($"a.sig", $"b.sig").cast("long").as("d"))
        .filter($"d" <= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == brute,
        s"banded=${got.size} brute=${brute.size}, sym diff ${(got diff brute).size + (brute diff got).size}")
      s"${got.size} pairs, banded == all-pairs"
    }

    pin("embedding_cosine_clusters_equal_brute_force") {
      val got = DedupQueries.dedupEmbeddingCosine(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val base = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
      val corpus = base.union(Tables.nearDupTwins(base))
      val edges = corpus.as("a").crossJoin(corpus.as("b"))
        .filter($"a.vec_id" < $"b.vec_id")
        .filter(Similarity.cosine($"a.embedding", $"b.embedding") >= 0.99)
        .select($"a.vec_id".as("src"), $"b.vec_id".as("dst"))
      val expected = ConnectedComponents.label(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"got=${got.size} expected=${expected.size} clustered rows diverge")
      s"${got.size} clustered rows == brute-force clustering"
    }

    pin("ivf_recall_at_5") {
      def topsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
        df.select($"qid", $"vid").collect()
          .groupBy(_.getLong(0)).map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
      val exact = topsOf(AnnQueries.annBruteforceTopk(spark, dir))
      val ivf = topsOf(IvfQueries.annIvfTopk(spark, dir))
      assert(ivf.nonEmpty && ivf.values.forall(_.size == 5), "ivf shape")
      val recalls = exact.map { case (qid, ex) =>
        ivf.get(qid).map(_.intersect(ex).size.toDouble / ex.size).getOrElse(0.0)
      }
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.6, s"mean IVF recall@5 $mean below 0.6")
      f"mean recall@5 $mean%.3f over ${recalls.size} queries"
    }

    pin("pq_recall_at_5") {
      val got = PqQueries.annPqTopk(spark, dir)
        .select($"qid", $"vid").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (qid, vs) => qid -> vs.map(_._2).toSet }
      val vecs = Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val byId = vecs.toMap
      val recalls = got.map { case (qid, approx) =>
        val exact = vecs.filter(_._1 != qid)
          .map { case (v, e) => (v, cos(byId(qid), e)) }
          .sortBy { case (v, s) => (-s, v) }.take(5).map(_._1).toSet
        approx.intersect(exact).size / 5.0
      }
      assert(recalls.nonEmpty, "no PQ queries")
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.3, s"mean PQ recall@5 $mean below floor")
      f"mean recall@5 $mean%.3f over ${recalls.size} queries"
    }

    pin("mmr_greedy_trace") {
      // FULL driver-side recomputation: perturbation-doubled corpus,
      // exact top-MmrPool pool per query, greedy re-rank via the
      // spec-pinned pure mmrSelect — compared row-for-row to the
      // distributed gate output (qid, rk, vid, sim_mbp)
      val got = AnnQueries.annMmrRerank(spark, dir)
        .select($"qid", $"rk", $"vid", $"sim_mbp")
        .as[(Long, Long, Long, Long)].collect()
        .groupBy(_._1).map { case (qid, rs) =>
          qid -> rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq
        }
      val base = Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
        .map { case (v, e) => (v, e.toArray) }
      val corpus = base ++ base.map { case (v, e) =>
        (v + 1000000000L,
          e.zipWithIndex.map { case (x, d) => if (d % 2 == 0) x * 1.02f else x * 0.98f })
      }
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val queries = base.filter(_._1 < 10)
      assert(queries.nonEmpty, "no query vectors")
      queries.foreach { case (qid, qvec) =>
        val pool = corpus.filter(_._1 != qid)
          .map { case (v, e) => (v, cos(qvec, e), e) }
          .sortBy { case (v, s, _) => (-s, v) }.take(20)
        val picked = AnnQueries.mmrSelect(
          pool.map { case (v, s, e) => (v, s, e) }.toSeq, 5, 0.7)
        val simByVid = pool.map(p => p._1 -> p._2).toMap
        val expected = picked.map(v =>
          (v, math.floor(1000.0 * simByVid(v) + 0.5).toLong))
        assert(got.getOrElse(qid, Nil) == expected,
          s"query $qid: got ${got.getOrElse(qid, Nil)} expected $expected")
      }
      s"${queries.length} queries trace-identical to the driver greedy"
    }

    println(s"""{"pins_failed":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
