package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupQueries
import graft.similarity.{ConnectedComponents, Similarity}
import graft.text.TextFunctions

class DedupSpec extends AnyFunSuite with SparkSpec {

  test("connected components: chain, clique, singleton-free (both paths agree)") {
    import spark.implicits._
    // components: {1,2,3,4,5} (chain), {10,11,12} (triangle), {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("src", "dst")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // default path: driver union-find (edge count under the threshold)
    val uf = ConnectedComponents.labelWithStatus(edges)
    assert(uf.converged)
    assert(uf.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
    // distributed label-propagation path, forced
    val lp = ConnectedComponents.labelWithStatus(edges, driverThreshold = -1L)
    assert(lp.converged)
    assert(lp.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
    // one collect of driverThreshold + 1 edges picks the path: the
    // 3-edge triangle fits a threshold of 3 (driver union-find, no
    // iterations), the 4-edge chain does not (distributed loop)
    Seq(Set(10L, 11L, 12L) -> true, Set(1L, 2L, 3L, 4L, 5L) -> false).foreach { case (ids, driver) =>
      val sub = edges.filter($"src".isin(ids.toSeq: _*))
      val r = ConnectedComponents.labelWithStatus(sub, driverThreshold = 3L)
      assert(r.converged && (r.iterations == 0) === driver, s"component of ${ids.min}")
      assert(r.labels.collect().map(row => row.getLong(0) -> row.getLong(1)).toMap ===
        expected.filter(kv => ids(kv._1)))
    }
  }

  test("connected components: distributed path surfaces non-convergence on a long chain") {
    import spark.implicits._
    // a 30-vertex chain has diameter 29 > 2^(3+1)-1 = 15, the distance
    // 3 jump-doubled rounds can cover: labels must be reported
    // unconverged (and strict mode must throw)
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    val r = ConnectedComponents.labelWithStatus(chain, maxIter = 3, driverThreshold = -1L)
    assert(!r.converged)
    assertThrows[IllegalStateException] {
      ConnectedComponents.labelWithStatus(chain, maxIter = 3, strict = true, driverThreshold = -1L)
    }
    // the driver path is exact on the same input
    val uf = ConnectedComponents.labelWithStatus(chain)
    assert(uf.converged)
    assert(uf.labels.collect().map(_.getLong(1)).toSet === Set(1L))
  }

  test("banded levenshtein == full DP clamped at k (randomized + edge cases)") {
    def full(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(42)
    val alphabet = "abc" // small alphabet -> many near-misses around the band
    def randStr(n: Int) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    for (_ <- 1 to 300; k <- 1 to 3) {
      val a = randStr(rnd.nextInt(14))
      val b = randStr(rnd.nextInt(14))
      val f = full(a, b)
      val got = DedupQueries.bandedLevenshtein(a, b, k)
      val want = if (f <= k) f else -1
      assert(got === want, s"a=$a b=$b k=$k full=$f")
    }
    // edge cases
    assert(DedupQueries.bandedLevenshtein("", "", 2) === 0)
    assert(DedupQueries.bandedLevenshtein("", "ab", 2) === 2)
    assert(DedupQueries.bandedLevenshtein("", "abc", 2) === -1)
    assert(DedupQueries.bandedLevenshtein("abcdef", "abdef", 2) === 1)
    assert(DedupQueries.bandedLevenshtein(null, "a", 2) === -1)
  }

  test("edit-blocked dedup finds indel twins: length-differing pairs present") {
    import spark.implicits._
    val out = DedupQueries.dedupEditBlocked(spark, sf)
    val corpus = Tables.documents(spark, sf).select($"doc_id", length($"text").as("len"))
    // odd-doc_id mutants insert one char (net Δlen = +1); the round-4
    // equal-length blocking could never emit these pairs
    val lens = corpus.union(corpus.select(($"doc_id" + 1000000000L).as("doc_id"),
      when($"len" >= 30, $"len" + 1).otherwise($"len").as("len")))
    val joined = out
      .join(lens.select($"doc_id".as("id_a"), $"len".as("la")), "id_a")
      .join(lens.select($"doc_id".as("id_b"), $"len".as("lb")), "id_b")
    val lenDiffering = joined.filter($"la" =!= $"lb").count()
    assert(lenDiffering > 0, "no length-differing pair survived — indel blocking broken")
    // and every odd doc with len >= 30 must pair with its planted twin
    val expectedTwins = corpus.filter($"doc_id" % 2 === 1 && $"len" >= 30).count()
    val foundTwins = out.filter($"id_b" === $"id_a" + 1000000000L &&
      $"id_a" % 2 === 1).join(corpus.filter($"len" >= 30)
        .select($"doc_id".as("id_a")), "id_a").count()
    assert(foundTwins === expectedTwins,
      s"planted indel twins: found $foundTwins of $expectedTwins")
  }

  test("edit-blocked dedup is complete for strings shorter than k+1 (tiny-bucket path)") {
    import spark.implicits._
    // the segment pigeonhole needs len >= 3; these docs exercise the
    // tiny-bucket path (len 0..2), its boundary (len 3..4), and one
    // long doc to prove the two paths coexist
    val docs = Seq(
      (1L, "a"), (2L, "b"), (3L, "ab"), (4L, "ba"), (5L, "abc"),
      (6L, "abcd"), (7L, ""), (8L, "xy"), (9L, "abcde"),
      (10L, "an unrelated doc body")) // < 30 chars: twin stays verbatim
    val dir = java.nio.file.Files.createTempDirectory("graft_edit_short").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    val out = DedupQueries.dedupEditBlocked(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // brute-force truth over the same corpus (docs under 30 chars gain
    // a verbatim +1e9 twin, exactly what the query plants)
    val corpus = docs ++ docs.map { case (id, t) => (id + 1000000000L, t) }
    val want = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus
      if ia < ib
      d = DedupQueries.bandedLevenshtein(ta, tb, 2)
      if d >= 0
    } yield (ia, ib, d.toLong)).toSet
    assert(out === want)
    // sanity: short pairs the round-4/early-round-5 blocking missed
    assert(want.contains((1L, 2L, 1L)), "a~b substitution pair missing from truth")
    assert(want.contains((3L, 4L, 2L)), "ab~ba pair missing from truth")
    assert(want.contains((7L, 1000000007L, 0L)), "empty-doc twin missing from truth")
  }

  test("prefix-filtered jaccard join == brute force (sf0.001 documents)") {
    import spark.implicits._
    val tau = 0.7
    val exact = DedupQueries.dedupNgramJaccard(spark, sf)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val docs = Tables.documents(spark, sf)
      .select($"doc_id",
        Similarity.wordNgrams(TextFunctions.wsTokens($"text"), 3).as("g"))
      .filter(size($"g") > 0)
    val brute = docs.as("a").crossJoin(docs.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .withColumn("inter", size(array_intersect($"a.g", $"b.g")).cast("double"))
      .filter($"inter" / (size($"a.g") + size($"b.g") - $"inter") >= tau)
      .select($"a.doc_id", $"b.doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(exact === brute)
    assert(brute.nonEmpty, "corpus should contain near-dup pairs")
  }

  test("graft_shingle_hashes rows == wordNgramStructs + xxhash64 rows (n = 3 and 5)") {
    import spark.implicits._
    // adversarial edges of the wsTokens contract: Spark's trim strips
    // 0x20 only and split keeps limit -1's edge tokens (so a leading or
    // trailing \t or \x0B adds an empty token), Java's ASCII \s run
    // splitting, fewer than n tokens, empty/blank/null text, CJK and
    // astral code points, and repeated grams
    val adversarial = Seq(
      "\tlead tab then several more words", "trailing tab after words here\t",
      "\u000Bvertical tab edges a b\u000B", " \t mixed \n\r ws \f runs \u000B here \t ",
      "two words", "", "      ", null, "\t", " \t ",
      "一二三 四五六 七八九 十 🙂 𝄞 astral 🚀 grams 😀😀 end",
      "a b c a b c a b c a b c a b c", "x\t\ty\n\nz  w\r\nv u",
      "\u00a0nbsp is not java whitespace at all")
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .union(adversarial.zipWithIndex.map { case (t, i) => (-1L - i, t) }.toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long)].collect().groupBy(identity).map { case (k, v) => k -> v.length }
    for (n <- Seq(3, 5)) {
      val was = docs.select($"doc_id",
          explode(Similarity.wordNgramStructs(TextFunctions.wsTokens($"text"), n)).as("x"))
        .select($"doc_id", $"x.s".as("s"), xxhash64($"x.gram").as("gram"))
      val now = docs.select($"doc_id", Similarity.shingleHashes($"text", n).as("h"))
        .select($"doc_id", size($"h").as("s"), explode($"h").as("gram"))
      val (w, h) = (rows(was), rows(now))
      assert(h === w, s"n = $n")
      assert(w.keySet.exists(_._1 < 0) && w.size > 1000, s"n = $n: ${w.size} rows")
    }
    // distinct is on hashes, in first-occurrence order; null in, null out
    val r = Seq[String]("a b c a b c", null).toDF("t")
      .select(Similarity.shingleHashes($"t", 3)).collect()
    assert(r(0).getSeq[Long](0) ===
      Seq("a b c", "b c a", "c a b").map(g => Seq(g).toDF("g").select(xxhash64($"g")).first().getLong(0)))
    assert(r(1).isNullAt(0))
  }

  test("ngramDocArrays == old collect_list/array_sort aggregate, cell for cell (sf0.001)") {
    import spark.implicits._
    val tau = DedupQueries.Tau
    val ex = DedupQueries.explodedShingles(spark, sf)
    val freq2 = ex.groupBy($"gram").agg(count(lit(1)).as("df")).filter($"df" >= 2)

    // the pre-r12 formulation, verbatim: df >= 2 aggregate left-joined
    // back with coalesce(df, 1), collect_list(struct(df, gram)) + per-doc
    // array_sort + transform lambdas + 8 CASE-sum lanes; the builder
    // under test takes df from its own window over the same rows
    val sketchAggs = (0 until DedupQueries.SketchWords).map { w =>
      sum(expr(s"CASE WHEN s < ${DedupQueries.SketchMaxS} AND pmod(kg.gram, 32L) div 4 = " + w +
        " THEN shiftleft(1L, 16 * int(pmod(kg.gram, 32L) % 4)) ELSE 0L END")).as(s"sk$w")
    }
    val old = ex.join(freq2, Seq("gram"), "left")
      .select($"doc_id", $"s",
        struct(coalesce($"df", lit(1L)).as("df"), $"gram").as("kg"))
      .groupBy($"doc_id")
      .agg(first($"s").as("s"), collect_list($"kg").as("kgs") +: sketchAggs: _*)
      .select($"doc_id" +: $"s" +:
        sort_array(transform($"kgs", x => x("gram"))).as("g") +:
        expr(s"transform(slice(array_sort(kgs), 1, int(s - ceil(s * $tau) + 1)), x -> x.gram)")
          .as("prefix") +:
        (0 until DedupQueries.SketchWords).map(w => col(s"sk$w")): _*)

    def key(df: org.apache.spark.sql.DataFrame, sortG: Boolean) = df.collect().map { r =>
      val g = r.getSeq[Long](2)
      r.getLong(0) -> (r.getInt(1), (if (sortG) g.sorted else g).toList,
        r.getSeq[Long](3).toList, (4 until 12).map(r.getLong).toList)
    }.toMap

    // g's emission order is free (array_intersect consumer) — compare
    // it as a sorted multiset; prefix and sketch lanes must be exact
    val now = key(DedupQueries.ngramDocArrays(ex), sortG = true)
    val was = key(old, sortG = false) // old g is already sort_array'd
    assert(now.keySet === was.keySet)
    now.foreach { case (id, cell) => assert(cell === was(id), s"doc $id") }
    assert(now.nonEmpty)

    // a doc whose row count disagrees with s must fail naming the doc:
    // a missing row would otherwise verify against a zero-padded g, a
    // duplicated one would overrun it
    val (victim, gram0) = ex.filter($"s" >= 2).select($"doc_id", $"gram")
      .as[(Long, Long)].first()
    val row = $"doc_id" === victim && $"gram" === gram0
    Seq("removed" -> ex.filter(!row), "duplicated" -> ex.union(ex.filter(row)))
      .foreach { case (what, broken) =>
        val e = intercept[org.apache.spark.SparkException](
          DedupQueries.ngramDocArrays(broken).collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(_.toString).mkString("\n")
        assert(msgs.contains("IllegalStateException") && msgs.contains(s"doc_id $victim has"),
          s"row $what: $msgs")
      }
  }

  test("minhash-LSH clusters: no false positives, high recall vs exact jaccard (sf0.001)") {
    import spark.implicits._
    val tau = 0.7
    // exact near-dup pairs (same trigram/jaccard definition the
    // pipeline verifies with) — small corpus, brute force is fine here
    val docs = Tables.documents(spark, sf)
      .select($"doc_id",
        Similarity.wordNgrams(TextFunctions.wsTokens($"text"), 3).as("g"))
      .filter(size($"g") > 0)
    val exactPairs = docs.as("a").crossJoin(docs.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .withColumn("inter", size(array_intersect($"a.g", $"b.g")).cast("double"))
      .filter($"inter" / (size($"a.g") + size($"b.g") - $"inter") >= tau)
      .select($"a.doc_id", $"b.doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty)

    // pipeline output: (doc, cluster_rep) for every clustered doc
    val clusters = DedupQueries.dedupMinhashLsh(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byRep = clusters.groupBy(_._2).values.map(_.map(_._1).toSet).toSeq

    // no false positives: the exact-jaccard verify step means every
    // clustered doc shares >= tau jaccard with SOME doc in its cluster
    val exactAdj = exactPairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    byRep.foreach { members =>
      members.foreach { m =>
        assert(exactAdj.getOrElse(m, Set.empty).exists(members.contains),
          s"doc $m clustered without an exact near-dup edge inside its cluster")
      }
    }
    // recall: 16 bands x 4 rows at j >= 0.7 admits a pair w.p. >= 0.988;
    // deterministic hashes make the observed recall a fixed number
    val clusteredPairs = byRep.flatMap(ms =>
      ms.toSeq.sorted.combinations(2).map(p => (p(0), p(1)))).toSet
    val recalled = exactPairs.count { case (a, b) =>
      clusteredPairs.contains((a, b)) ||
        byRep.exists(ms => ms.contains(a) && ms.contains(b))
    }
    assert(recalled.toDouble / exactPairs.size >= 0.9,
      s"recall ${recalled.toDouble / exactPairs.size} over ${exactPairs.size} exact pairs")
  }

  test("simhash band-blocked pairs == brute-force hamming<=3 pairs (sf0.001)") {
    import spark.implicits._
    val got = DedupQueries.dedupSimhash(spark, sf)
      .select($"id_a", $"id_b", $"hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the same signatures (banding is pigeonhole-
    // complete for hamming <= bands-1, so equality must be EXACT)
    val ex = Tables.documents(spark, sf)
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
    assert(got === brute)
    assert(brute.nonEmpty, "corpus should contain simhash near-dups")
  }

  test("simhash C(5,2) and C(6,3) CODE PATHS yield identical pair sets") {
    import spark.implicits._
    // the adaptive width switch (Similarity.blocksForCodes over the
    // footer-count probe) must be result-invariant on the full
    // operator — both widths are pigeonhole-complete for hamming<=3
    val p5 = DedupQueries.dedupSimhashBlocks(spark, sf, 5)
      .select($"id_a", $"id_b", $"hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val p6 = DedupQueries.dedupSimhashBlocks(spark, sf, 6)
      .select($"id_a", $"id_b", $"hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(p5 === p6)
    assert(p5.nonEmpty)
  }

  test("embedding-cosine clusters match brute-force cosine clustering (sf0.001)") {
    import spark.implicits._
    val got = DedupQueries.dedupEmbeddingCosine(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // same corpus construction, brute-force all-pairs cosine >= 0.99
    // edges, same connected-components labeling
    val base = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val perturbed = base.select(
      ($"vec_id" + 1000000000L).as("vec_id"),
      zip_with($"embedding", sequence(lit(0), size($"embedding") - 1),
        (x, d) => x * when(d % 2 === 0, lit(1.02f)).otherwise(lit(0.98f))).as("embedding"))
    val corpus = base.union(perturbed)
    val edges = corpus.as("a").crossJoin(corpus.as("b"))
      .filter($"a.vec_id" < $"b.vec_id")
      .filter(Similarity.cosine($"a.embedding", $"b.embedding") >= 0.99)
      .select($"a.vec_id".as("src"), $"b.vec_id".as("dst"))
    val expected = ConnectedComponents.label(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(got === expected,
      "LSH-candidate clustering diverged from brute-force cosine clustering")
    assert(expected.nonEmpty, "perturbed corpus should contain near-dup pairs")
  }

  test("boundBuckets drops only oversized buckets") {
    import spark.implicits._
    // bucket (0, 7L): 5 members; bucket (1, 9L): 2 members
    val buckets = ((1 to 5).map(i => (i.toLong, 0, 7L)) ++
      Seq((6L, 1, 9L), (7L, 1, 9L))).toDF("id", "band", "band_hash")
    val kept = Similarity.boundBuckets(buckets, Seq("band", "band_hash"), maxBucket = 4)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(6L, 7L))
    // cap above every bucket: identity
    val all = Similarity.boundBuckets(buckets, Seq("band", "band_hash"), maxBucket = 5)
    assert(all.count() === 7)
  }

  test("hammingPairs through a dropped hot bucket: lone-bucket pairs vanish, others keep their hamming") {
    import spark.implicits._
    // C(5,2) blocking splits 64 bits into blocks of 13,13,13,13,12 at
    // offsets 0,13,26,39,52; combo 0 is blocks (0, 1). Every item below
    // has blocks 0 and 1 all-zero, so all of them share ONE combo-0
    // bucket — six members, over a cap of 4.
    //  - 1 vs 2: one flipped bit in each of blocks 2, 3, 4 (hamming 3),
    //    so combo 0 is the ONLY combo they agree on: dropped with it.
    //  - 1 vs 6: flips in blocks 2 and 3 only (hamming 2), so they also
    //    agree on combo (0, 4), a two-member bucket that survives.
    //  - 3, 4, 5: random upper bits, far from everything, padding the
    //    hot bucket.
    val rnd = new scala.util.Random(7)
    val fillers = (3L to 5L).map(_ -> (rnd.nextLong() & ~((1L << 26) - 1)))
    val items = (Seq(1L -> 0L, 2L -> ((1L << 26) | (1L << 39) | (1L << 52)),
      6L -> ((1L << 27) | (1L << 40))) ++ fillers).toDF("id", "sig")
    def pairs(maxBucket: Int): Set[(Long, Long, Long)] = {
      val out = Similarity.hammingPairs("hot-bucket-spec", items, 5, 3, maxBucket)
      try out.as[(Long, Long, Long)].collect().toSet finally out.unpersist()
    }
    val brute = items.as("a").join(items.as("b"), $"a.id" < $"b.id")
      .select($"a.id", $"b.id", Similarity.hamming64($"a.sig", $"b.sig").cast("long").as("h"))
      .filter($"h" <= 3).as[(Long, Long, Long)].collect().toSet
    assert(brute === Set((1L, 2L, 3L), (1L, 6L, 2L)), "fixture")
    assert(pairs(Similarity.MaxBucket) === brute)
    assert(pairs(4) === Set((1L, 6L, 2L)))
  }

  test("minhash signature similarity estimates jaccard") {
    import spark.implicits._
    val a = (1 to 60).map(i => s"tok$i")
    val b = (7 to 66).map(i => s"tok$i") // jaccard = 54/66 ≈ 0.818
    val df = Seq((a, b)).toDF("a", "b")
      .select(Similarity.minhashSignature($"a", 128).as("sa"),
        Similarity.minhashSignature($"b", 128).as("sb"))
      .select(size(filter(zip_with($"sa", $"sb", (x, y) => x === y), b => b)).as("eq"))
    val r = df.collect()(0)
    val est = r.getInt(0).toDouble / 128
    assert(math.abs(est - 54.0 / 66) < 0.15, s"estimate $est")
  }

  test("simhash: identical tokens → 0 hamming; near-identical → small; disjoint → large") {
    import spark.implicits._
    val base = (1 to 80).map(i => s"w$i")
    val near = base.updated(3, "CHANGED")
    val far = (1 to 80).map(i => s"z$i")
    val df = Seq((base, near, far)).toDF("a", "b", "c").select(
      Similarity.hamming64(Similarity.simhash64($"a"), Similarity.simhash64($"a")).as("aa"),
      Similarity.hamming64(Similarity.simhash64($"a"), Similarity.simhash64($"b")).as("ab"),
      Similarity.hamming64(Similarity.simhash64($"a"), Similarity.simhash64($"c")).as("ac"))
    val r = df.collect()(0)
    assert(r.getInt(0) === 0)
    assert(r.getInt(1) < r.getInt(2), s"near=${r.getInt(1)} far=${r.getInt(2)}")
  }

  test("cosine matches manual computation; hyperplane signature is deterministic") {
    import spark.implicits._
    val a = Seq(1.0f, 2.0f, 3.0f)
    val b = Seq(-1.0f, 0.5f, 2.0f)
    val expected = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val df = Seq((a, b)).toDF("a", "b")
    val got = df.select(Similarity.cosine($"a", $"b").as("c")).collect()(0).getDouble(0)
    assert(math.abs(got - expected) < 1e-12)
    val s1 = df.select(Similarity.hyperplaneSignature($"a", 16)).collect()(0).getLong(0)
    val s2 = df.select(Similarity.hyperplaneSignature($"a", 16)).collect()(0).getLong(0)
    assert(s1 === s2)
    assert(s1 >= 0 && s1 < (1L << 16))
  }

  test("simhash band blocking is pigeonhole-complete for hamming <= bands-1") {
    import spark.implicits._
    // two signatures differing in exactly 3 bits must share >= 1 of 4 bands
    val x = 0x0123456789abcdefL
    val y = x ^ ((1L << 2) | (1L << 21) | (1L << 63)) // 3 flipped bits, 3 distinct bands
    val df = Seq((x, y)).toDF("x", "y").select(
      Similarity.simhashBands($"x", 4).as("bx"),
      Similarity.simhashBands($"y", 4).as("by"))
    val r = df.select(size(array_intersect($"bx", $"by")).as("shared")).collect()(0)
    assert(r.getInt(0) >= 1)
  }

  test("simhash block-combination blocking is complete for hamming <= 3") {
    import spark.implicits._
    // exhaustive-ish: 200 seeded random signatures, each paired with a
    // copy whose 0..3 flipped bit positions are themselves seeded —
    // every pair must share at least one combo key, for BOTH the
    // query's C(5,2) parameterization and the large-corpus C(6,3) one
    val rnd = new scala.util.Random(42)
    val cases = (0 until 200).map { _ =>
      val x = rnd.nextLong()
      val k = rnd.nextInt(4) // 0..3 flips
      val flips = rnd.shuffle((0 until 64).toList).take(k)
      (x, flips.foldLeft(x)((s, b) => s ^ (1L << b)))
    }
    for (blocks <- Seq(5, 6)) {
      val df = cases.toDF("x", "y").select(
        Similarity.simhashBlockCombos($"x", blocks, 3).as("bx"),
        Similarity.simhashBlockCombos($"y", blocks, 3).as("by"))
      val minShared = df.select(size(array_intersect($"bx", $"by")).as("shared"))
        .agg(min($"shared")).collect()(0).getInt(0)
      assert(minShared >= 1, s"blocks=$blocks")
    }
    // and a pair differing in every block must share nothing: the keys
    // separate non-near pairs instead of flooding buckets. Bits
    // 0/11/22/33/44/55 hit all 5 blocks of the C(5,2) split (widths
    // 13,13,13,13,12) and all 6 of the C(6,3) one (widths
    // 11,11,11,11,10,10).
    val farSig = Seq(0, 11, 22, 33, 44, 55).map(1L << _).reduce(_ | _)
    for (blocks <- Seq(5, 6)) {
      val far = Seq((0L, farSig)).toDF("x", "y").select(
        Similarity.simhashBlockCombos($"x", blocks, 3).as("bx"),
        Similarity.simhashBlockCombos($"y", blocks, 3).as("by"))
      assert(far.select(size(array_intersect($"bx", $"by"))).collect()(0).getInt(0) === 0,
        s"blocks=$blocks")
    }
  }

  test("cluster representatives: local union-find + quality argmax agree (sf0.001)") {
    import spark.implicits._
    val got = DedupQueries.dedupClusterRep(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (cid, n, rid, q) => cid -> ((n, rid, q)) }.toMap

    // independent reconstruction: verified pairs (spec'd == brute force
    // above), a local union-find, quality via the REGEX reference
    // formulation (not the native scan the operator uses)
    val pairs = DedupQueries.dedupNgramJaccard(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val quality = graft.Tables.documents(spark, sf)
      .select($"doc_id", TextFunctions.qualityScoreBpRegex($"text").as("q"))
      .as[(Long, Long)].collect().toMap
    val expected = members.groupBy(find).map { case (cid, ms) =>
      val (q, nid) = ms.map(id => (quality(id), -id)).max
      cid -> ((ms.length.toLong, -nid, q))
    }
    assert(got === expected)
    assert(got.nonEmpty && got.values.forall(_._1 >= 2))
  }
}
