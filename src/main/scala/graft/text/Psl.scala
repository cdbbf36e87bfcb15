package graft.text

/** Loader for the COMPLETE public-suffix table (publicsuffix.org/list,
  * public data — Debian ships it at [[Psl.SystemPath]]), proving the
  * "production deployment swaps in the full generated list" claim the
  * embedded-subset docs make ([[UrlFunctions]] scope note).
  *
  * The swap does NOT keep the regex shape: ~9.5k alternation literals
  * would compile into one enormous pattern evaluated per row, and
  * pattern size is not free in codegen. Instead the full table becomes
  * per-width membership sets ([[UrlFunctions.registrableDomainFull]]):
  * `substring_index(host, '.', -k)` extracts the last-k-label
  * candidate and an `isin` over thousands of literals optimizes to a
  * codegen'd InSet hash probe — O(1) per width per row, independent of
  * table size, and the table itself compiles once per query, not per
  * row. The embedded subset goes through the same lookup, parsed by
  * [[parse]]; UrlSpec pins the full table equal to the embedded one on
  * every host shape the gate corpus and the embedded rule classes
  * produce.
  */
object Psl {

  /** The Debian `publicsuffix` package's copy of the list. */
  val SystemPath = "/usr/share/publicsuffix/public_suffix_list.dat"

  /** Parsed rule table, keyed by label count so the lookup expression
    * can probe exactly one set per width.
    *
    *  - `normal(w)`: plain rules with w labels (`co.uk` → w=2);
    *  - `wildcardBases(w)`: bases of `*.base` rules where BASE has w
    *    labels (`*.ck` → w=1, `*.kawasaki.jp` → w=2) — the rule itself
    *    is w+1 labels wide;
    *  - `exceptions(w)`: `!host` rules with w labels — the named host
    *    IS registrable despite a covering wildcard.
    */
  final case class Rules(
      normal: Map[Int, Seq[String]],
      wildcardBases: Map[Int, Seq[String]],
      exceptions: Map[Int, Seq[String]]) {
    def ruleCount: Int =
      normal.values.map(_.size).sum + wildcardBases.values.map(_.size).sum +
        exceptions.values.map(_.size).sum
    /** Widest rule in label counts (wildcard rules count base+1). */
    def maxWidth: Int =
      (normal.keys ++ wildcardBases.keys.map(_ + 1) ++ exceptions.keys)
        .foldLeft(1)(math.max)
  }

  /** Read and [[parse]] the list file at `path`. */
  def load(path: String = SystemPath): Rules = {
    import scala.jdk.CollectionConverters._
    parse(java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(path), java.nio.charset.StandardCharsets.UTF_8)
      .asScala.toSeq)
  }

  /** Parse list lines: one rule per line, `//` comments and blanks
    * skipped, rules lowercased (the PSL algorithm is case-insensitive
    * and [[UrlFunctions.urlHost]] lowercases hosts). Unicode IDN rules
    * are kept verbatim — ASCII hosts simply never match them, and a
    * pipeline feeding punycode hosts treats xn-- labels as ordinary
    * labels exactly as the algorithm specifies. */
  def parse(rawLines: Seq[String]): Rules = {
    val lines = rawLines.iterator
      .map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(l => l.nonEmpty && !l.startsWith("//"))
      .toVector
    def labels(s: String): Int = s.count(_ == '.') + 1
    val exc = lines.filter(_.startsWith("!")).map(_.substring(1))
    val wild = lines.filter(_.startsWith("*.")).map(_.substring(2))
    val norm = lines.filterNot(l => l.startsWith("!") || l.startsWith("*."))
    Rules(
      norm.groupBy(labels).view.mapValues(_.distinct.toSeq).toMap,
      wild.groupBy(labels).view.mapValues(_.distinct.toSeq).toMap,
      exc.groupBy(labels).view.mapValues(_.distinct.toSeq).toMap)
  }
}
