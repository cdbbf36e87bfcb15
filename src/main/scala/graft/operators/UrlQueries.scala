package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{BottomK, GraftExtensions}
import graft.text.UrlFunctions

/** URL/domain curation (round 9) — the FIRST filter a real crawl
  * pipeline applies, before any text ever gets tokenized: registrable-
  * domain extraction, domain blocklisting, and per-domain document
  * caps, with per-TLD/domain stats as the output.
  *
  * The gate corpus derives a deterministic URL per document from
  * (source, doc_id) with the adversarial shapes a crawl actually
  * contains — ports, userinfo, IP hosts, punycode labels, uppercase
  * scheme/host, deep subdomains, multi-label public suffixes — so the
  * hash gate exercises the parser on all of them at once.
  */
object UrlQueries {

  /** Blocklisted registrable domains — stands in for the operator's
    * real input (a blocklist TABLE, loaded and broadcast). */
  val Blocklist: Seq[String] = Seq("src2.com", "src5.co.uk", "src11.org")

  /** Documents per domain kept by the cap. */
  val DomainCap = 3

  /** Deterministic per-doc URL with adversarial parse shapes (exposed
    * to UrlSpec so the full-PSL lookup can be pinned equal to the
    * embedded regex on exactly the gate corpus's host shapes). */
  private[graft] def urlCol(src: Column, id: Column): Column = {
    val idStr = id.cast("string")
    val v = pmod(id, lit(7))
    when(v === 0, concat(lit("https://www."), src, lit(".com/articles/"), idStr))
      .when(v === 1, concat(lit("https://news."), src, lit(".co.uk/"), idStr))
      .when(v === 2, concat(lit("http://"), src, lit(".org:8080/p?id="), idStr))
      .when(v === 3, concat(lit("https://user:pw@"), src, lit(".net/account")))
      .when(v === 4, concat(lit("http://192.168."), pmod(id, lit(256)).cast("string"), lit(".7/raw")))
      .when(v === 5, concat(lit("https://cdn.xn--"), src, lit("-4ab.com/img/"), idStr, lit(".png")))
      .otherwise(concat(lit("HTTPS://Blog."), upper(src), lit(".COM/Post/"), idStr))
  }

  /** URL-canonicalization dedup — the exact-dup collapse a crawl runs
    * BEFORE any content dedup: the same page fetched under cosmetic
    * variants (scheme/host case, default ports, tracking params,
    * trailing slash, fragments) must count as ONE document. The gate
    * corpus groups six consecutive docs onto one page and gives each a
    * different cosmetic variant — five collapse to the same canonical
    * key, the sixth (real query param + non-default port + http)
    * stays distinct — so the gate exercises every normalization rule.
    *
    * Scale: canonicalization is a codegen'd regexp chain at the scan;
    * the dedup is one hash aggregate keyed on the canonical string
    * (tens of bytes — at 100 TB key on xxhash64(canon) and carry
    * min(canon) for display, the dedup-family digest rule). */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = floor($"doc_id" / 6).cast("long")
    val gm = pmod(g, lit(97)).cast("string")
    val gs = g.cast("string")
    val v = pmod($"doc_id", lit(6))
    val url =
      when(v === 0, concat(lit("https://www.site"), gm, lit(".com/a/"), gs))
        .when(v === 1, concat(lit("HTTPS://WWW.SITE"), gm, lit(".COM/a/"), gs))
        .when(v === 2, concat(lit("https://www.site"), gm, lit(".com:443/a/"), gs))
        .when(v === 3, concat(lit("https://www.site"), gm, lit(".com/a/"), gs,
          lit("?utm_source=feed&utm_campaign=x")))
        .when(v === 4, concat(lit("https://www.site"), gm, lit(".com/a/"), gs, lit("/")))
        .otherwise(concat(lit("http://www.site"), gm, lit(".com:8080/a/"), gs,
          lit("?id=9&fbclid=c"), $"doc_id".cast("string")))
    Tables.widened(Tables.documents(spark, dir))
      .select($"doc_id", UrlFunctions.canonicalizeUrl(url).as("canonical"))
      .filter($"canonical" =!= "")
      .groupBy($"canonical")
      .agg(count(lit(1)).as("n_urls"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"))
      .orderBy($"canonical")
  }

  /** Per-domain curation stats after blocklist + cap.
    *
    * Scale: host/domain extraction is codegen'd regexp work at the
    * scan (no UDF); the blocklist is a broadcast anti-join (a real
    * blocklist table is thousands of rows — never a shuffle); the
    * per-domain cap runs on the `graft_bottomk` aggregate, so each
    * task keeps at most [[DomainCap]] rows per domain in flight and
    * the single shuffle carries (domain, packed-scalar) partial
    * states — a rank window would shuffle every row of the corpus
    * first and serialize each domain's sort, the exact skew trap when
    * one domain floods the crawl (same argument as docs_source_cap).
    * Text never enters the frame at all: the operator touches only
    * (doc_id, source, n_chars). */
  def urlDomainStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // n_chars rides the bottom-k value packed under the doc_id; the
    // pack requires n_chars in [0, 1e5) and doc_id in [0, 9.2e13) —
    // fail loudly instead of silently mis-summing (docs_source_cap
    // precedent)
    val CharsPack = 100000L
    val parsed = Tables.widened(Tables.documents(spark, dir))
      // NULL n_chars (a nulled-out document) counts as zero kept chars;
      // without the coalesce the pack-range guard's otherwise() branch
      // RAISES on the null (three-valued between) — found by the
      // null-injection sweep
      .select($"doc_id", coalesce($"n_chars", lit(0L)).as("n_chars"),
        UrlFunctions.urlHost(urlCol(coalesce($"source", lit("")), $"doc_id")).as("host"))
      .withColumn("n_chars",
        when($"n_chars".between(0L, CharsPack - 1L), $"n_chars")
          .otherwise(raise_error(concat(
            lit("url_domain_stats: n_chars out of packable range [0, 1e5): "),
            $"n_chars".cast("string")))))
      // TWO bounds meet here: the value pack needs doc_id <
      // Long.MaxValue/CharsPack, and the bottom-k SORT KEY lpads to 10
      // digits — an 11-digit doc_id would TRUNCATE and mis-rank (Spark
      // lpad cuts long strings), so the guard takes the tighter 1e10
      // (docsSourceCap's bound, same reason)
      .withColumn("doc_id",
        when($"doc_id".between(0L, math.min(10000000000L, Long.MaxValue / CharsPack) - 1L),
          $"doc_id")
          .otherwise(raise_error(concat(
            lit("url_domain_stats: doc_id out of packable/paddable range [0, 1e10): "),
            $"doc_id".cast("string")))))
      .withColumn("is_ip", UrlFunctions.isIpv4($"host"))
      .withColumn("domain", UrlFunctions.registrableDomain($"host"))

    val blocked = Blocklist.toDF("domain")

    parsed
      .join(broadcast(blocked), Seq("domain"), "left_anti")
      .select($"domain", $"host", $"is_ip",
        lpad($"doc_id".cast("string"), 10, "0").as("key"),
        ($"doc_id" * CharsPack + $"n_chars").as("packed"))
      .groupBy($"domain")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"host").as("n_hosts"),
        max($"is_ip").as("is_ip"),
        GraftExtensions.column(BottomK, $"key", $"packed", lit(DomainCap)).as("top"))
      .select($"domain",
        UrlFunctions.domainTld($"domain", $"is_ip").as("tld"),
        $"n_docs", $"n_hosts",
        size($"top").cast("long").as("n_kept"),
        aggregate($"top", lit(0L), (acc, s) => acc + s.getField("value") % CharsPack)
          .as("kept_chars"),
        // integer DIV, not `/`: float division would round doc_ids
        // above 2^53 / CharsPack
        expr(s"CAST(top[0].value DIV $CharsPack AS BIGINT)").as("first_kept_doc"))
      .orderBy($"domain")
  }
}
