package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.operators.PipelineQueries
import graft.text.TextFunctions

/** Semantic invariants + plan audits for the round-3 pipeline
  * operators (PII redaction, decontamination, funnel, centroids,
  * incremental dedup). The cross-engine value check is the DuckDB
  * oracle gate; these specs pin the properties the oracle can't state
  * (e.g. "no PII survives redaction", "funnel stages are monotone").
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("redaction removes every PII match it counted") {
    val red = PipelineQueries.textPiiRedact(spark, sf)
    // every row carries exactly one injected instance of each type
    val bad = red.filter($"n_email" < 1 || $"n_ip" < 1 || $"n_phone" < 1).count()
    assert(bad === 0)
    // re-scanning the redacted text finds nothing (rebuild the redacted
    // text the same way the query does)
    val injected = concat(
      $"text", lit(" contact "), $"source", $"doc_id".cast("string"),
      lit("@example.com from 10."), ($"doc_id" % 256).cast("string"),
      lit("."), ($"doc_id" % 100).cast("string"),
      lit(".7 call 555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0"))
    val leftover = Tables.documents(spark, sf)
      .select(TextFunctions.redactPii(injected).as("r"))
      .filter(
        TextFunctions.piiCount($"r", TextFunctions.EmailRe) > 0 ||
        TextFunctions.piiCount($"r", TextFunctions.Ipv4Re) > 0 ||
        TextFunctions.piiCount($"r", TextFunctions.PhoneRe) > 0)
      .count()
    assert(leftover === 0)
  }

  test("redaction on PII-free text is the identity") {
    val df = Seq("hello plain world", "no pii here at all").toDF("t")
      .select($"t", TextFunctions.redactPii($"t").as("r"))
    assert(df.filter($"t" =!= $"r").count() === 0)
  }

  test("decontamination flags exactly the docs sharing a 5-gram with the eval set") {
    // brute force: cross-check via an unbucketed exact computation
    val docs = Tables.documents(spark, sf)
    val grams = docs.select($"doc_id",
      graft.similarity.Similarity.wordNgrams(TextFunctions.wsTokens($"text"), 5).as("g"))
    val evalSet = grams.filter($"doc_id" % 20 === 0).select(explode($"g").as("gram"))
      .distinct().as[String].collect().toSet
    val expected = grams.filter($"doc_id" % 20 =!= 0)
      .select($"doc_id", $"g").as[(Long, Seq[String])].collect()
      .filter { case (_, gs) => gs.exists(evalSet.contains) }
      .map { case (id, gs) => id -> gs.count(evalSet.contains).toLong }
      .toMap
    val got = PipelineQueries.textDecontaminate(spark, sf)
      .select($"doc_id", $"n_hits").as[(Long, Long)].collect().toMap
    assert(got === expected)
  }

  test("funnel stage counts are monotone and bounded by user count") {
    val row = PipelineQueries.eventsFunnel(spark, sf).collect().head
    val (users, v, c, p) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(users > 0 && v <= users && c <= v && p <= c,
      s"non-monotone funnel: users=$users view=$v click=$c purchase=$p")
    assert(v > 0 && c > 0 && p > 0, "degenerate funnel: a stage has zero users")
  }

  test("funnel ignores clicks before the first view") {
    val df = Seq(
      // user 1: click BEFORE view, purchase after view but no click after view
      (1L, 1L, "click", "2024-01-01 00:00:01"),
      (1L, 2L, "view", "2024-01-01 00:00:02"),
      (1L, 3L, "purchase", "2024-01-01 00:00:03"),
      // user 2: full ordered funnel
      (2L, 4L, "view", "2024-01-01 00:00:01"),
      (2L, 5L, "click", "2024-01-01 00:00:02"),
      (2L, 6L, "purchase", "2024-01-01 00:00:03"))
      .toDF("user_id", "event_id", "event_type", "s")
      .withColumn("ts", $"s".cast("timestamp")).drop("s")
    val dir = java.nio.file.Files.createTempDirectory("funnel").toString
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val row = PipelineQueries.eventsFunnel(spark, dir).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      === ((2L, 2L, 1L, 1L)))
  }

  test("centroid quantized means match a driver-side computation") {
    val exp = Tables.embeddings(spark, sf)
      .select($"label", $"embedding").as[(Int, Seq[Float])].collect()
      .flatMap { case (l, e) => e.zipWithIndex.map { case (v, d) =>
        (l.toLong, d.toLong) -> math.floor(v.toDouble * 1e6 + 0.5).toLong } }
      .groupBy(_._1).map { case (k, vs) =>
        k -> (vs.length.toLong, vs.map(_._2).sum) }
    val got = PipelineQueries.embedCentroid(spark, sf)
      .select($"label", $"dim", $"n", $"sum_e6")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (l, d, n, s) => (l, d) -> (n, s) }.toMap
    assert(got === exp)
  }

  test("incremental dedup drops every re-ingested doc and keeps every edited doc") {
    val docs = Tables.documents(spark, sf)
    val kept = PipelineQueries.dedupIncremental(spark, sf)
      .select($"keep_id").as[Long].collect().toSet
    // re-ingested ids are doc_id + 2e9, edited ids doc_id + 3e9: every
    // survivor must be an edited doc, so no kept id may fall in the
    // re-ingested [2e9, 3e9) range (the pre-synthId assertion checked
    // >= 3M, which re-ingested ids satisfied vacuously)
    assert(kept.forall(id => id >= 3L * Tables.SynthIdOffset &&
        id < 4L * Tables.SynthIdOffset),
      s"re-ingested doc survived: ${kept.filter(_ < 3L * Tables.SynthIdOffset)}")
    // edited docs survive except within-batch duplicates (same edited
    // digest); count distinct edited digests instead of raw ids
    val editedDistinct = docs.filter($"doc_id" % 7 === 1)
      .select(md5(lower(regexp_replace(trim(concat($"text", lit(" edited v2"))),
        "[ \\t\\n\\x0B\\f\\r]+", " ")).cast("binary")).as("d"))
      .distinct().count()
    assert(kept.size === editedDistinct)
  }

  test("retention: offset-0 cell covers every user of its cohort; later cells never exceed it") {
    val rows = PipelineQueries.eventsRetention(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCohort = rows.groupBy(_._1)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(byCohort.values.map(_.find(_._2 == 0L).map(_._3).getOrElse(0L)).sum === users,
      "offset-0 cells must partition the full user population by cohort")
    byCohort.foreach { case (c, cells) =>
      val base = cells.find(_._2 == 0L).map(_._3).getOrElse(0L)
      cells.foreach { case (_, off, n) =>
        assert(n <= base, s"cohort $c offset $off has $n users > cohort size $base")
      }
    }
  }

  test("decontamination joins the eval n-grams as a broadcast, never a shuffle of the corpus") {
    val s = PipelineQueries.textDecontaminate(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(s.contains("BroadcastHashJoin"), s"eval-gram join must broadcast:\n$s")
    // the single-scan shape has NO other join: any merge/shuffled-hash
    // join appearing means the corpus got shuffled row-wise
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"corpus side must not shuffle through a join:\n$s")
  }

  test("salted join returns exactly the rows of the plain join") {
    val events = Tables.events(spark, sf).select($"user_id", $"event_id", $"value")
    val users = Tables.customer(spark, sf)
      .select($"c_custkey".as("u_key"), $"c_mktsegment")
    val plain = events.join(users, $"user_id" === $"u_key")
      .select($"event_id", $"c_mktsegment")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val salted = graft.operators.SaltedJoin
      .join(events, "user_id", users, "u_key", salt = 8)
      .select($"event_id", $"c_mktsegment")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(salted === plain)
    assert(plain.nonEmpty)
  }

  test("vocab top-100 matches a driver-side count") {
    val exp = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .flatMap { case (id, t) =>
        if (t.trim.isEmpty) Nil else t.trim.split("\\s+").toSeq.map(id -> _) }
    val tf = exp.groupBy(_._2).map { case (tok, xs) =>
      (tok, xs.length.toLong, xs.map(_._1).distinct.length.toLong) }
      .toSeq.sortBy { case (tok, n, _) => (-n, tok) }.take(100)
    val got = PipelineQueries.textVocab(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(got === tf)
  }

  test("sequence packing: every non-final window holds exactly the budget; totals conserved") {
    val budget = 512L
    val rows = PipelineQueries.textPackSequences(spark, sf, budget = budget, groups = 8)
      .select($"grp", $"bin", $"n_tokens").as[(Long, Long, Long)].collect()
    val byShard = rows.groupBy(_._1)
    byShard.foreach { case (g, bins) =>
      val last = bins.map(_._2).max
      bins.foreach { case (_, bin, n) =>
        if (bin < last) assert(n === budget, s"shard $g window $bin has $n tokens")
        else assert(n >= 1 && n <= budget, s"shard $g final window has $n tokens")
      }
      // windows are contiguous from 0
      assert(bins.map(_._2).sorted.toSeq === (0L to last).toSeq)
    }
    // token conservation: packed tokens == corpus tokens
    val total = Tables.documents(spark, sf)
      .select(graft.text.TextFunctions.tokenCountWs($"text").cast("long").as("n"))
      .agg(sum($"n")).collect().head.getLong(0)
    assert(rows.map(_._3).sum === total)
  }

  test("mixture sampling keeps stable per-language fractions near the weights") {
    val rows = PipelineQueries.qSampleMixture(spark, sf)
      .select($"lang", $"n_total", $"n_kept").as[(String, Long, Long)].collect()
    // default mirrors the operator's otherwise-branch (0.25) so an
    // unexpected language asserts meaningfully instead of key-crashing
    val weights = Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.25)
      .withDefaultValue(0.25)
    rows.foreach { case (lang, total, kept) =>
      val w = weights(lang)
      assert(kept <= total)
      if (w == 1.0) assert(kept === total, s"$lang full weight must keep all")
      else {
        // 4-sigma binomial tolerance at these counts
        val sigma = math.sqrt(total * w * (1 - w))
        assert(math.abs(kept - total * w) <= 4 * sigma + 1,
          s"$lang kept $kept of $total, weight $w")
      }
    }
    // determinism: a second run keeps the identical rows
    val again = PipelineQueries.qSampleMixture(spark, sf)
      .select($"lang", $"n_total", $"n_kept").as[(String, Long, Long)].collect()
    assert(again.sortBy(_._1).toSeq === rows.sortBy(_._1).toSeq)
  }

  test("anomaly flags agree with a driver-side 3-sigma computation") {
    val events = Tables.events(spark, sf)
      .select($"event_type", $"event_id", $"value").as[(String, Long, Double)].collect()
    val expected = events.groupBy(_._1).map { case (t, es) =>
      val cents = es.map { case (_, id, v) => id -> math.round(v * 100) }
      val n = cents.length.toLong
      val s = cents.map(_._2).sum
      val q = cents.map(c => c._2 * c._2).sum
      val out = cents.filter { case (_, v) =>
        val dev = BigInt(n) * BigInt(v) - BigInt(s)
        dev * dev > BigInt(9) * (BigInt(n) * BigInt(q) - BigInt(s) * BigInt(s))
      }
      t -> (n, out.length.toLong)
    }
    val got = PipelineQueries.eventsAnomaly(spark, sf)
      .select($"event_type", $"n", $"n_outliers").as[(String, Long, Long)].collect()
      .map { case (t, n, o) => t -> (n, o) }.toMap
    assert(got === expected)
    assert(got.values.exists(_._2 > 0), "expected at least one outlier in the corpus")
  }

  test("semantic decontamination equals all-pairs brute force (sf0.001)") {
    val got = PipelineQueries.textDecontaminateSemantic(spark, sf)
      .select($"vec_id", $"eval_id", $"n_eval_hits")
      .as[(Long, Long, Long)].collect().toSet

    // same corpus construction, brute-force all-pairs eval x corpus
    val base = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val ev = base.filter($"vec_id" % 20 === 0)
    val planted = ev.select(($"vec_id" + 1000000000L).as("vec_id"),
      zip_with($"embedding", sequence(lit(0), size($"embedding") - 1),
        (x, d) => x * when(d % 2 === 0, lit(1.02f)).otherwise(lit(0.98f))).as("embedding"))
    val corpus = base.filter($"vec_id" % 20 =!= 0).union(planted)
    val hits = ev.as("a").crossJoin(corpus.as("b"))
      .select($"b.vec_id".as("vec_id"), $"a.vec_id".as("eval_id"),
        graft.similarity.Similarity.cosine($"a.embedding", $"b.embedding").as("cos"))
      .filter($"cos" >= 0.99)
      .as[(Long, Long, Double)].collect()
    val expected = hits.groupBy(_._1).map { case (vid, xs) =>
      val best = xs.maxBy(x => (x._3, -x._2))
      (vid, best._2, xs.length.toLong)
    }.toSet

    assert(got === expected,
      "banded semantic decontamination diverged from all-pairs brute force")
    assert(expected.nonEmpty, "planted contaminated vectors should be flagged")
  }

  test("keywords: ranks are contiguous and ordered by the tf/df key") {
    val rows = PipelineQueries.textKeywords(spark, sf)
      .select($"doc_id", $"rk", $"tf", $"df").as[(Long, Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (doc, ks) =>
      val byRank = ks.sortBy(_._2)
      assert(byRank.map(_._2).toSeq === (1L to byRank.length).toSeq, s"doc $doc ranks")
      assert(byRank.length <= 3)
      // scores non-increasing down the ranks
      val scores = byRank.map { case (_, _, tf, df) => tf.toDouble / df }
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"doc $doc order")
    }
    val docsWithTokens = Tables.documents(spark, sf)
      .filter(length(trim($"text")) > 0).count()
    assert(rows.map(_._1).distinct.length === docsWithTokens)
  }

  test("session paths: counts descend and conserve against the sessionizer") {
    val rows = PipelineQueries.eventsPaths(spark, sf)
      .select($"path", $"n_sessions").as[(String, Long)].collect()
    assert(rows.length === 10)
    assert(rows.map(_._2).zip(rows.map(_._2).tail).forall { case (a, b) => a >= b })
    assert(rows.forall(_._1.split(">").forall(
      Set("view", "click", "purchase", "signup", "error"))))
    val totalSessions = graft.operators.EventQueries.eventsSessionize(spark, sf).count()
    assert(rows.map(_._2).sum <= totalSessions)
  }

  test("map-side pipeline queries add no shuffle; centroid/funnel shuffle once on their key") {
    // count "(n) Exchange" node headers in the details section — tree
    // lines print as "+- Exchange (7)", which startsWith would miss
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.explainString(FormattedMode)
        .linesIterator.count(_.matches("""^\(\d+\) Exchange.*"""))
    def counts = Seq(
      "pii" -> exchanges(PipelineQueries.textPiiRedact(spark, sf)),
      "centroid" -> exchanges(PipelineQueries.embedCentroid(spark, sf)),
      "funnel" -> exchanges(PipelineQueries.eventsFunnel(spark, sf)))
    // pii: Tables.widened input spread + the stable-dump output sort —
    // the redaction pipeline itself adds NO exchange
    // centroid: widened spread + (label, dim) agg + output sort
    // funnel: one user_id shuffle (windows + user-agg share it) + the
    // single-row global agg
    val expected = Map("pii" -> 2, "centroid" -> 3, "funnel" -> 2)
    counts.foreach { case (k, n) =>
      assert(n <= expected(k), s"$k has $n exchanges, expected <= ${expected(k)}")
    }
  }
}
