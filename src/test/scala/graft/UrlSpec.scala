package graft

import org.apache.spark.sql.functions._

import graft.text.UrlFunctions
import graft.operators.UrlQueries

/** Adversarial URL parsing contract + url_domain_stats invariants the
  * hash gate can't state on its own. */
class UrlSpec extends SparkSpec {
  import spark.implicits._

  private def hostOf(urls: (String, String)*): Unit = {
    val got = urls.map(_._1).toDF("url")
      .select($"url", UrlFunctions.urlHost($"url").as("h"))
      .as[(String, String)].collect().toMap
    urls.foreach { case (u, expect) =>
      assert(got(u) === expect, s"urlHost($u)")
    }
  }

  test("urlHost strips scheme case, userinfo, ports, paths; rejects non-URLs") {
    hostOf(
      "https://www.example.com/a/b?q=1#f" -> "www.example.com",
      "HTTPS://Blog.EXAMPLE.COM/Post/7" -> "blog.example.com",
      "http://example.org:8080/p?id=3" -> "example.org",
      "https://user:pw@example.net/account" -> "user:pw@example.net".split('@')(1),
      "svn+ssh://code.example.io/repo" -> "code.example.io",
      "http://192.168.3.7/raw" -> "192.168.3.7",
      "https://cdn.xn--bcher-kva.com/x.png" -> "cdn.xn--bcher-kva.com",
      // RFC 3986: userinfo ends at the LAST '@' of the authority — a
      // crafted user@evil@real.com URL must yield the REAL host (the
      // round-9 first-'@' form returned 'evil@real.com', which a
      // blocklist anti-join on real.com never matched)
      "https://a@b@src2.com/x" -> "src2.com",
      "https://user:p@ss@deep.example.org:8443/q?x=1" -> "deep.example.org",
      // an '@' in the path or query is NOT userinfo (authority ends at
      // the first /, ? or #)
      "https://site.com/p?email=a@b.com" -> "site.com",
      "https://site.com/~user@host/page" -> "site.com",
      // out-of-scope shapes degrade to '' (documented), never garbage
      "http://[2001:db8::1]/x" -> "",
      "not a url at all" -> "",
      "//protocol-relative.example.com/x" -> "",
      "" -> "")
  }

  test("registrableDomain: PSL multi-label suffixes, IPs, punycode, bare suffixes") {
    val cases = Seq(
      "www.example.com" -> "example.com",
      "news.bbc.co.uk" -> "bbc.co.uk",
      "a.b.c.d.example.com" -> "example.com",
      "deep.sub.domain.ac.uk" -> "domain.ac.uk",
      "site.com.au" -> "site.com.au",
      "cdn.xn--bcher-kva.com" -> "xn--bcher-kva.com", // punycode = ordinary label (PSL rule)
      "192.168.3.7" -> "192.168.3.7", // IP literal passes through whole
      "999.1.1.1" -> "1.1", // NOT an IP (octet > 255) -> label logic, like browsers
      "co.uk" -> "co.uk", // bare suffix: nothing registrable below it
      "localhost" -> "localhost", // single label
      "example.com" -> "example.com",
      // PSL WILDCARD rules (*.ck): every label under the base is a
      // public suffix, so the registrable domain keeps THREE labels
      "foo.bar.ck" -> "foo.bar.ck",
      "x.foo.bar.ck" -> "foo.bar.ck",
      "foo.ck" -> "foo.ck", // host IS a public suffix under *.ck
      "a.site.mm" -> "a.site.mm",
      // PSL EXCEPTION rules (!www.ck): the named host is registrable
      // despite the covering wildcard — exceptions beat wildcards
      "www.ck" -> "www.ck",
      "x.www.ck" -> "www.ck",
      // multi-label wildcard base (*.kawasaki.jp) and its exception
      "a.b.kawasaki.jp" -> "a.b.kawasaki.jp",
      "b.kawasaki.jp" -> "b.kawasaki.jp", // public suffix itself
      "city.kawasaki.jp" -> "city.kawasaki.jp", // !city.kawasaki.jp
      "x.city.kawasaki.jp" -> "city.kawasaki.jp",
      "kawasaki.jp" -> "kawasaki.jp") // no rule matches -> default *
    val got = cases.map(_._1).toDF("host")
      .select($"host", UrlFunctions.registrableDomain($"host").as("d"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (h, expect) =>
      assert(got(h) === expect, s"registrableDomain($h)")
    }
  }

  test("registrableDomain: a kept suffix with an empty label returns the whole host") {
    // the oracle's regex chain keeps only non-empty labels, so an empty
    // label among the ones kept falls back to the host itself
    val cases = Seq(
      "example.com." -> "example.com.",
      "x..co.uk" -> "x..co.uk",
      "a..b.example.com" -> "example.com",
      ".com" -> ".com",
      "foo..ck" -> "foo..ck")
    val got = cases.map(_._1).toDF("host")
      .select($"host", UrlFunctions.registrableDomain($"host").as("d"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (h, expect) =>
      assert(got(h) === expect, s"registrableDomain($h)")
    }
  }

  test("domainTld: suffix after the first label; null for IPs and single labels") {
    val got = Seq(
      ("example.com", false), ("bbc.co.uk", false),
      ("192.168.3.7", true), ("localhost", false))
      .toDF("d", "ip")
      .select($"d", UrlFunctions.domainTld($"d", $"ip").as("t"))
      .as[(String, Option[String])].collect().toMap
    assert(got("example.com") === Some("com"))
    assert(got("bbc.co.uk") === Some("co.uk"))
    assert(got("192.168.3.7") === None)
    assert(got("localhost") === None)
  }

  test("doc_id at or above 1e10 fails LOUDLY (lpad would truncate the cap's sort key)") {
    // Spark lpad(str, 10, '0') TRUNCATES an 11-digit doc_id to its
    // first 10 chars, so 10000000000 would sort as "1000000000" —
    // BEFORE 9999999999 — and the cap would keep the wrong documents
    // while the oracle's ORDER BY doc_id keeps the right ones. The
    // guard must take the pad bound (1e10), not just the pack bound
    // (~9.2e13) — round-9 review finding.
    val d = java.nio.file.Files.createTempDirectory("graft_url_bigid").toString
    Tables.documents(spark, sf)
      .withColumn("doc_id", $"doc_id" + 10000000000L)
      .write.parquet(s"$d/documents.parquet")
    val e = intercept[Exception] {
      graft.operators.UrlQueries.urlDomainStats(spark, d).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("paddable range")),
      s"expected the loud range guard, got: ${messages(e).headOption}")
  }

  test("canonicalizeUrl: each normalization rule, one adversarial case at a time") {
    val cases = Seq(
      // scheme/host case folding; path case preserved
      "HTTPS://WWW.Example.COM/Path/X" -> "https://www.example.com/Path/X",
      // default ports stripped per scheme; non-default kept
      "https://example.com:443/a" -> "https://example.com/a",
      "http://example.com:80/a" -> "http://example.com/a",
      "http://example.com:443/a" -> "http://example.com:443/a",
      "https://example.com:8443/a" -> "https://example.com:8443/a",
      // ports compare and emit NUMERICALLY: zero-padded default ports
      // strip, zero-padded non-defaults collapse with their plain form
      "https://example.com:0443/a" -> "https://example.com/a",
      "http://example.com:00080/a" -> "http://example.com/a",
      "http://example.com:0443/a" -> "http://example.com:443/a",
      "https://example.com:0/a" -> "https://example.com/a", // degenerate :0 = no port
      // userinfo dropped — including multi-'@' userinfo
      "https://user:pw@example.com/a" -> "https://example.com/a",
      "https://a@b@example.com/a" -> "https://example.com/a",
      // fragment dropped
      "https://example.com/a#section-2" -> "https://example.com/a",
      // tracking params: leading, middle, lone, several; separators repaired
      "https://example.com/a?utm_source=x&id=1" -> "https://example.com/a?id=1",
      "https://example.com/a?id=1&utm_source=x" -> "https://example.com/a?id=1",
      "https://example.com/a?utm_source=x" -> "https://example.com/a",
      "https://example.com/a?utm_a=1&utm_b=2&fbclid=z&id=7" -> "https://example.com/a?id=7",
      "https://example.com/a?gclid=9" -> "https://example.com/a",
      // tracking-param removal sees the QUERY STRING only: a path
      // segment shaped like '&utm_x=...' (no '?' anywhere) names a
      // different resource and must survive byte-for-byte (the
      // round-9 form deleted it and over-merged two distinct pages)
      "https://example.com/a&utm_source=x" -> "https://example.com/a&utm_source=x",
      "https://example.com/a&gclid=1/b?id=2" -> "https://example.com/a&gclid=1/b?id=2",
      // ...but the same shape AFTER the '?' is a real tracking param
      "https://example.com/a?id=2&utm_source=x" -> "https://example.com/a?id=2",
      // non-tracking params preserved byte-for-byte (case included)
      "https://example.com/a?Q=Abc&z=2" -> "https://example.com/a?Q=Abc&z=2",
      // trailing slash stripped; root slash too (host-only form)
      "https://example.com/a/" -> "https://example.com/a",
      "https://example.com/" -> "https://example.com",
      // all rules at once — note the path-final slash BEFORE a query
      // is NOT the trailing-slash rule's target (only an end-of-URL
      // slash is; /p/?k and /p?k are distinct resources to most
      // servers, so collapsing them would over-merge)
      "HTTP://u@Ex.COM:80/p/?utm_x=1&k=v#f" -> "http://ex.com/p/?k=v",
      // non-URLs degrade to ''
      "not a url" -> "",
      "" -> "")
    import spark.implicits._
    val got = cases.map(_._1).toDF("url")
      .select($"url", UrlFunctions.canonicalizeUrl($"url").as("c"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (u, expect) =>
      assert(got(u) === expect, s"canonicalizeUrl($u)")
    }
  }

  test("urlDedup: cosmetic variants collapse, real variants survive") {
    import spark.implicits._
    val rows = UrlQueries.urlDedup(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // a complete 6-doc group yields one canonical with 5 collapsed
    // variants and one distinct survivor with a kept :8080 port
    assert(rows.exists(_._2 == 5L), "no 5-way collapse found")
    assert(rows.filter(_._2 >= 2).forall(r => r._4 > r._3),
      "collapsed groups must span multiple doc_ids")
    assert(rows.exists(r => r._1.contains(":8080") && r._2 == 1L),
      "non-default port survivor missing")
    assert(rows.forall(r => !r._1.contains("utm_") && !r._1.contains("fbclid")),
      "tracking params leaked into canonical keys")
  }

  test("url_domain_stats: blocklist enforced, cap binds, counts consistent") {
    val rows = UrlQueries.urlDomainStats(spark, sf)
      .select($"domain", $"n_docs", $"n_kept", $"kept_chars", $"first_kept_doc")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val domains = rows.map(_._1).toSet
    UrlQueries.Blocklist.foreach(b =>
      assert(!domains.contains(b), s"blocklisted domain $b survived"))
    rows.foreach { case (d, nDocs, nKept, keptChars, _) =>
      assert(nKept === math.min(nDocs, UrlQueries.DomainCap.toLong), s"$d cap")
      assert(keptChars >= 0, s"$d chars")
    }
    // the cap actually bound somewhere (a vacuous cap proves nothing)
    assert(rows.exists { case (_, nDocs, nKept, _, _) => nDocs > nKept })
    // adversarial shapes made it into the output as domains
    assert(domains.exists(_.startsWith("xn--")), "punycode domain missing")
    assert(domains.exists(_.startsWith("192.168.")), "IP domain missing")
    assert(domains.exists(_.endsWith(".co.uk")), "multi-label suffix missing")
  }

  test("FULL public-suffix table (9.5k rules) == embedded table on every gate and rule-class host") {
    import graft.text.{Psl, UrlFunctions}
    val rules = Psl.load()
    assert(rules.ruleCount > 9000, s"full PSL should parse ~9.5k rules, got ${rules.ruleCount}")
    assert(rules.maxWidth === 5)
    // battery 1: every host shape the embedded rule classes recognize
    // (normal multi-label, wildcard base/under/deep, exception hosts,
    // IPs, punycode, bare suffixes, single labels, non-hosts) — the
    // full list contains all of the embedded subset's rules, so the
    // two forms must agree exactly on these
    val classHosts =
      UrlFunctions.MultiLabelSuffixes.flatMap(s => Seq(s"www.x.$s", s"x.$s", s)) ++
      UrlFunctions.WildcardSuffixBases.flatMap(b => Seq(s"a.b.$b", s"b.$b", b)) ++
      UrlFunctions.ExceptionRules.flatMap(e => Seq(s"www.$e", e)) ++
      Seq("www.example.com", "example.com", "com", "a.b.c.example.org",
        "192.168.3.7", "999.1.1.1", "cdn.xn--src5-4ab.com", "", "localhost")
    val cmp = classHosts.toDF("host")
      .select($"host",
        UrlFunctions.registrableDomain($"host").as("embedded"),
        UrlFunctions.registrableDomainFull($"host", rules).as("full"))
      .collect()
    val bad = cmp.filter(r => r.getString(1) != r.getString(2))
    assert(bad.isEmpty, "full-table lookup diverged from the embedded table on: " +
      bad.map(r => s"${r.getString(0)} (${r.getString(1)} vs ${r.getString(2)})").mkString(", "))
    // battery 2: the gate corpus's actual hosts (every urlCol shape)
    val gateCmp = Tables.documents(spark, sf)
      .select(UrlFunctions.urlHost(
        graft.operators.UrlQueries.urlCol(coalesce($"source", lit("")), $"doc_id")).as("host"))
      .distinct()
      .select($"host",
        UrlFunctions.registrableDomain($"host").as("embedded"),
        UrlFunctions.registrableDomainFull($"host", rules).as("full"))
      .collect()
    assert(gateCmp.nonEmpty)
    val gateBad = gateCmp.filter(r => r.getString(1) != r.getString(2))
    assert(gateBad.isEmpty, "full-table lookup diverged on gate hosts: " +
      gateBad.take(5).map(r => s"${r.getString(0)}").mkString(", "))
    // battery 3: full-list-ONLY behavior the subset cannot see — pins
    // that the lookup really consults the complete table (a 2-label
    // private-section rule and a deep wildcard)
    val fullOnly = Seq("user.github.io" -> "user.github.io",
      "a.user.github.io" -> "user.github.io")
    val got = fullOnly.map(_._1).toDF("host")
      .select(UrlFunctions.registrableDomainFull($"host", rules)).as[String].collect()
    assert(got.toSeq === fullOnly.map(_._2),
      s"github.io (full-list-only rule) lookup: ${got.toSeq}")
  }
}
