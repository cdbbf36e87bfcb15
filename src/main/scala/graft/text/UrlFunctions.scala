package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL → host → registrable-domain extraction as pure codegen'd
  * Column expressions — the FIRST filter a crawl pipeline applies
  * (domain blocklists, per-domain caps, TLD stats all key on the
  * registrable domain, not the raw host).
  *
  * Everything here is a regexp/string/set-membership expression, so
  * it runs inside whole-stage codegen at the scan with zero UDF or
  * shuffle cost. The DuckDB oracle restates each one in SQL (RE2-safe
  * patterns only: no backreferences, no lookaround); for the
  * registrable domain it states the same rules as a regex chain
  * ([[SqlAlts]]), so the gate checks the lookup against a second
  * formulation.
  *
  * The public-suffix table implements all THREE PSL rule classes
  * (publicsuffix.org/list, public data): normal multi-label rules
  * (`co.uk`), wildcard rules (`*.ck` — every label directly under the
  * base is itself a public suffix), and exception rules (`!www.ck` —
  * the named host is registrable despite a covering wildcard).
  * Precedence follows the PSL algorithm: exceptions beat wildcards
  * beat normal rules beat the implicit `*` default, and within a
  * class the longest (most-label) match wins. The embedded table is a
  * representative subset (~200 normal rules, every wildcard/exception
  * rule class); a production deployment swaps in the full generated
  * list ([[Psl.load]]) — same per-width lookup, only the membership
  * sets grow. Bracketed IPv6 hosts are out of scope (return '' from
  * [[urlHost]]'s host class) and punycode (xn--) labels are treated
  * as ordinary labels, which is exactly what the PSL algorithm
  * specifies.
  */
object UrlFunctions {

  /** Normal 2-label public suffixes recognized by
    * [[registrableDomain]] (representative PSL subset; see scope note
    * above). */
  val MultiLabelSuffixes: Seq[String] = Seq(
    // uk (sch.uk is a WILDCARD rule in the real list — caught by the
    // r11 full-table pin, moved to WildcardSuffixBases)
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk",
    "ac.uk", "gov.uk", "nhs.uk", "police.uk",
    // au
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    // jp (prefecture/city rules are in the wildcard table)
    "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp", "gr.jp", "lg.jp",
    // br
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br", "art.br", "blog.br",
    // cn
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn", "mil.cn",
    // in
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
    "ac.in", "edu.in", "res.in", "gov.in", "mil.in",
    // nz
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "geek.nz", "gen.nz", "maori.nz", "iwi.nz",
    // za
    "co.za", "net.za", "org.za", "gov.za", "edu.za", "ac.za", "web.za",
    // kr
    "co.kr", "or.kr", "ne.kr", "re.kr", "pe.kr", "go.kr", "mil.kr",
    "ac.kr", "hs.kr", "ms.kr", "es.kr", "sc.kr", "kg.kr", "seoul.kr", "busan.kr",
    // tw / hk / sg / my
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg", "per.sg",
    "com.my", "net.my", "org.my", "edu.my", "gov.my", "mil.my", "name.my",
    // mx / ar / co / pe / ve / cl-adjacent
    "com.mx", "net.mx", "org.mx", "edu.mx", "gob.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar", "int.ar", "mil.ar", "tur.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "mil.co", "nom.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe", "mil.pe", "nom.pe",
    "com.ve", "net.ve", "org.ve", "co.ve", "gob.ve", "edu.ve",
    // tr / pl / ua / il / sa / eg
    "com.tr", "net.tr", "org.tr", "gen.tr", "web.tr", "edu.tr", "gov.tr",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "mil.pl", "waw.pl",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua", "kiev.ua",
    "co.il", "net.il", "org.il", "ac.il", "gov.il", "muni.il", "idf.il",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa", "pub.sa",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg", "sci.eg",
    // ng / ke / id / ph / vn / th
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke",
    "co.id", "net.id", "or.id", "web.id", "ac.id", "sch.id", "go.id", "mil.id",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph", "ngo.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "int.vn", "ac.vn",
    "co.th", "in.th", "ac.th", "go.th", "or.th", "net.th", "mi.th",
    // ye (the real list has concrete second-levels, NOT *.ye — caught
    // by the r11 full-table pin)
    "com.ye", "edu.ye", "gov.ye", "net.ye", "mil.ye", "org.ye")

  /** Wildcard rule bases — PSL `*.<base>` rules: EVERY label directly
    * under the base is itself a public suffix, so the registrable
    * domain keeps one more label than a normal rule of the base's
    * width would. Includes every wildcard-TLD class of the real list
    * plus the Japanese city wildcards (which exercise multi-label
    * bases). */
  val WildcardSuffixBases: Seq[String] = Seq(
    "bd", "ck", "er", "fk", "jm", "kh", "mm", "np", "pg",
    "sch.uk", "kawasaki.jp", "kitakyushu.jp", "kobe.jp", "nagoya.jp",
    "sapporo.jp", "sendai.jp", "yokohama.jp")

  /** Exception rules — PSL `!<host>`: the named host IS registrable
    * even though a wildcard rule would otherwise make it a public
    * suffix. The real list's exceptions are exactly this shape (www.ck
    * and the Japanese city halls). */
  val ExceptionRules: Seq[String] = Seq(
    "www.ck", "city.kawasaki.jp", "city.kitakyushu.jp", "city.kobe.jp",
    "city.nagoya.jp", "city.sapporo.jp", "city.sendai.jp", "city.yokohama.jp")

  // RFC 3986: userinfo runs to the LAST '@' of the authority (an '@'
  // may appear inside userinfo itself), and the authority ends at the
  // first /, ? or # — hence the greedy [^/?#]*@ rather than [^/@]*@
  // (the round-9 form stopped at the FIRST '@', so a crafted
  // user@evil@real.com URL yielded a garbage host that evaded
  // blocklist anti-joins).
  private val HostPattern =
    "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/:?#\\[\\]]+)"

  /** Lowercased host from an absolute URL: scheme stripped
    * (case-insensitive), userinfo (`user:pw@`, including embedded
    * '@'s) stripped, port and path/query/fragment stopped at. '' when
    * the value is not an absolute URL. */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, HostPattern, 1))

  /** Dotted-quad IPv4 literal test, exact octet ranges (0-255) — a
    * host like `999.1.1.1` is NOT an IP and falls through to label
    * logic, same as browsers treat it. */
  def isIpv4(host: Column): Column =
    host.rlike("^((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])$")

  /** The embedded rule lists as a [[Psl.Rules]] table, parsed exactly
    * as the full list file is. */
  private val EmbeddedRules: Psl.Rules = Psl.parse(
    MultiLabelSuffixes ++ WildcardSuffixBases.map("*." + _) ++ ExceptionRules.map("!" + _))

  private def alt(xs: Seq[String]): String =
    xs.map(_.replace(".", "\\.")).mkString("|")

  /** The embedded lists as regex alternations, from which the DuckDB
    * oracle SQL is BUILT — the oracle states the rules as a precedence
    * chain of suffix regexes over the same lists the Spark lookup
    * parses, so the two engines cannot drift. */
  object SqlAlts {
    val multi: String = alt(MultiLabelSuffixes)
    val exc2: String = alt(ExceptionRules.filter(_.count(_ == '.') == 1))
    val exc3: String = alt(ExceptionRules.filter(_.count(_ == '.') == 2))
    val wild1: String = alt(WildcardSuffixBases.filter(!_.contains('.')))
    val wild2: String = alt(WildcardSuffixBases.filter(_.contains('.')))
  }

  /** Registrable domain (eTLD+1) under the PSL algorithm over the
    * embedded rule table ([[registrableDomainFull]] over the embedded
    * lists). IP literals pass through whole; a host that IS a public
    * suffix (or has fewer labels than the matched rule wants) returns
    * itself — no registrable part exists below it. */
  def registrableDomain(host: Column): Column = registrableDomainFull(host, EmbeddedRules)

  /** Registrable domain under a parsed rule table — the embedded
    * subset ([[registrableDomain]]) or the COMPLETE public-suffix list
    * ([[Psl.load]]). Per-width membership probes instead of a
    * ~9.5k-literal alternation regex (pattern size is not free in
    * codegen; a hash-set probe is O(1) per row regardless of table
    * size — Catalyst rewrites a >10-literal `isin` to a codegen'd
    * InSet).
    *
    * PSL precedence: exceptions (longest first) beat everything; then
    * the longest matching rule, where a normal w-label rule keeps w+1
    * labels and a wildcard `*.base` (base w-1 labels) is a w-label rule
    * keeping w+1; then the implicit `*` default keeps 2. A kept suffix
    * is the host's last k labels; when the host has fewer, or one of
    * those labels is empty (`a..co.uk`, a trailing dot), the whole host
    * is returned — the oracle's regex chain answers the same. A k-label
    * rule can never spuriously match a shorter host (string equality
    * implies equal dot counts). UrlSpec pins the full table equal to
    * the embedded one on every embedded rule class and on the gate
    * corpus's host shapes. */
  def registrableDomainFull(host: Column, rules: Psl.Rules): Column = {
    def lastK(k: Int): Column = substring_index(host, ".", -k)
    def keep(k: Int): Column = {
      val s = lastK(k)
      when(s.startsWith(".") || s.endsWith(".") || s.contains(".."), host).otherwise(s)
    }
    val excBranches = rules.exceptions.toSeq.sortBy(-_._1).map { case (w, hs) =>
      (lastK(w).isin(hs: _*), keep(w))
    }
    val ruleBranches = (rules.maxWidth to 1 by -1).flatMap { w =>
      val conds = Seq(
        rules.normal.get(w).map(ns => lastK(w).isin(ns: _*)),
        rules.wildcardBases.get(w - 1).map(bs => lastK(w - 1).isin(bs: _*))
      ).flatten
      conds.reduceOption(_ || _).map(c => (c, keep(w + 1)))
    }
    (excBranches ++ ruleBranches)
      .foldLeft(when(isIpv4(host), host)) { case (acc, (c, v)) => acc.when(c, v) }
      .otherwise(keep(2))
  }

  private val TrackingParam = "(utm_[A-Za-z0-9_]*|fbclid|gclid)"

  /** Canonical form of an absolute URL — the normalization a crawl
    * dedup keys on, so the same page fetched under cosmetic variants
    * collapses to one key:
    *
    *   - scheme and host lowercased (path/query case preserved);
    *   - userinfo dropped;
    *   - ports compared and emitted NUMERICALLY (leading zeros
    *     stripped, so :0443 ≡ :443); default ports dropped (http:80,
    *     https:443; other ports kept); a degenerate `:0`/`:000` port
    *     is treated as no port;
    *   - fragment dropped;
    *   - tracking query params removed (utm_*, fbclid, gclid) from the
    *     QUERY STRING ONLY — a path segment that merely looks like one
    *     (`/a&utm_source=x` with no `?`) is untouched, because it
    *     names a different resource — with `?`/`&` separators repaired
    *     and an emptied query dropped;
    *   - trailing slash stripped (END of URL only — a path-final
    *     slash before a surviving query string is kept: /p/?k and
    *     /p?k are distinct resources to most servers).
    *
    * '' when the value is not an absolute URL (same contract as
    * [[urlHost]]). Pure regexp_replace/extract chain, always-global
    * replacement on both engines (DuckDB side passes the 'g' flag —
    * its regexp_replace defaults to first-match-only, Spark's to all).
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val host = urlHost(url)
    val port = regexp_replace(
      regexp_extract(url,
        "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?[^/:?#\\[\\]]+:([0-9]+)", 1),
      "^0+", "")
    val keepPort = port =!= "" &&
      !((scheme === "http" && port === "80") || (scheme === "https" && port === "443"))
    val rest = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([/?#].*)$", 1)
    val noFrag = regexp_replace(rest, "#.*$", "")
    // split at the FIRST '?': tracking-param removal must only see the
    // query string — the round-9 form ran the regexes over path+query
    // and could delete a path segment shaped like `&utm_x=...`
    val path = regexp_extract(noFrag, "^([^?]*)", 1)
    val query = regexp_extract(noFrag, "^[^?]*(\\?.*)$", 1)
    val qMid = regexp_replace(query, s"&$TrackingParam=[^&]*", "")
    val qLead = regexp_replace(qMid, s"\\?$TrackingParam=[^&]*&", "?")
    val qClean = regexp_replace(qLead, s"\\?$TrackingParam=[^&]*$$", "")
    val noSlash = regexp_replace(concat(path, qClean), "/$", "")
    when(host === "", lit(""))
      .otherwise(concat(scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")), noSlash))
  }

  /** Public-suffix part of a registrable domain (everything after the
    * first label): `src4.co.uk` → `co.uk`. NULL for IP literals and
    * single-label domains (no suffix exists). */
  def domainTld(domain: Column, isIp: Column): Column =
    when(isIp, lit(null).cast("string"))
      .otherwise(nullif(regexp_extract(domain, "^[^.]+\\.(.+)$", 1), lit("")))
}
