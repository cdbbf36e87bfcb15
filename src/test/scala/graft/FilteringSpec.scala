package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filtering.EventFilter

/** Truth-table parity with the reference's tests/test_filtering.py.
  * Entries are JSON documents (per-row missing keys!) filtered through
  * the variant-path compiler, which carries the exact null-vs-missing
  * semantics of filtering.py's `_get_value`.
  */
class FilteringSpec extends AnyFunSuite with SparkSpec {

  /** Apply `filters` to each JSON entry, return the match vector. */
  private def run(filters: String, entries: Seq[String]): Seq[Boolean] = {
    import spark.implicits._
    val df = entries.zipWithIndex.toDF("entry", "idx")
    df.withColumn("m", EventFilter.onJsonString(filters, $"entry"))
      .orderBy($"idx").select($"m").collect().map(_.getBoolean(0)).toSeq
  }

  private def assertTable(filters: String, entries: Seq[String], expected: Seq[Boolean]): Unit =
    assert(run(filters, entries) === expected, s"\nfilters: $filters")

  // test_filtering.py:6-28 (test_filter_is_null)
  private val nullEntries = Seq(
    """{}""",
    """{"field": null}""",
    """{"nested": {"field": null}}""",
    """{"field": 1}""",
    """{"nested": {"field": 1}}""",
    """{"field": null, "nested": {"field": null}}""",
    """{"field": 1, "nested": {"field": null}}""")

  test("is-null: OR of two filters") {
    assertTable(
      """[{"field": [null]}, {"nested": {"field": [null]}}]""",
      nullEntries,
      Seq(false, true, true, false, false, true, true))
  }

  test("is-null: AND within one filter") {
    assertTable(
      """[{"field": [null], "nested": {"field": [null]}}]""",
      nullEntries,
      Seq(false, false, false, false, false, true, false))
  }

  // test_filtering.py:31-61 (test_filter_value)
  private val valueEntries = Seq(
    """{}""",
    """{"field": null}""",
    """{"nested": {"field": null}}""",
    """{"field": "value"}""",
    """{"nested": {"field": "value"}}""",
    """{"nested": {"empty": ""}}""",
    """{"field": 1}""",
    """{"field": false}""")

  test("scalar equality incl. empty string") {
    assertTable(
      """[{"field": ["value"]}, {"nested": {"field": ["value"]}}, {"nested": {"empty": [""]}}]""",
      valueEntries,
      Seq(false, false, false, true, true, true, false, false))
  }

  test("scalar equality: numeric and boolean criteria") {
    assertTable(
      """[{"field": [1, false]}]""",
      valueEntries,
      Seq(false, false, false, false, false, false, true, true))
  }

  // test_filtering.py:64-87 (test_filter_anything_but)
  private val abEntries = Seq(
    """{}""",
    """{"field": null}""",
    """{"field": ""}""",
    """{"field": "a"}""",
    """{"field": "b"}""",
    """{"field": 1}""")

  test("anything-but: empty string") {
    assertTable("""[{"field": [{"anything-but": [""]}]}]""",
      abEntries, Seq(false, true, false, true, true, true))
  }

  test("anything-but: mixed types") {
    assertTable("""[{"field": [{"anything-but": [1, "a"]}]}]""",
      abEntries, Seq(false, true, true, false, true, false))
  }

  test("anything-but: null") {
    assertTable("""[{"field": [{"anything-but": [null]}]}]""",
      abEntries, Seq(false, false, true, true, true, true))
  }

  // test_filtering.py:90-93
  test("anything-but: non-list reference raises at compile") {
    assertThrows[IllegalArgumentException] {
      run("""[{"field": [{"anything-but": "invalid-reference"}]}]""", Seq("""{"field": "a"}"""))
    }
  }

  // test_filtering.py:96-117 (test_filter_numeric)
  private val numEntries = Seq(
    """{}""",
    """{"field": 0}""",
    """{"field": 1}""",
    """{"field": 1.1}""")

  test("numeric: single op") {
    assertTable("""[{"field": [{"numeric": [">", 0]}]}]""",
      numEntries, Seq(false, false, true, true))
  }

  test("numeric: range (AND of pairs)") {
    assertTable("""[{"field": [{"numeric": [">", 0.5, "<", 1.01]}]}]""",
      numEntries, Seq(false, false, true, false))
  }

  test("numeric: OR of two criteria") {
    assertTable("""[{"field": [{"numeric": ["<", 1]}, {"numeric": [">", 1]}]}]""",
      numEntries, Seq(false, true, false, true))
  }

  // test_filtering.py:120-127
  test("numeric: odd-length reference raises at compile") {
    assertThrows[IllegalArgumentException] {
      run("""[{"field": [{"numeric": [">", 0, "<="]}]}]""", Seq("""{"field": 1}"""))
    }
  }

  test("numeric: non-numeric value does not match (documented deviation: reference raises TypeError per-row)") {
    assertTable("""[{"field": [{"numeric": [">", 0]}]}]""",
      Seq("""{"field": "a"}"""), Seq(false))
  }

  // test_filtering.py:130-146 (test_filter_exists)
  private val existsEntries = Seq(
    """{}""",
    """{"field": null}""",
    """{"another-field": null}""",
    """{"field": null, "another-field": null}""")

  test("exists: true (null value still exists)") {
    assertTable("""[{"field": [{"exists": true}]}]""",
      existsEntries, Seq(false, true, false, true))
  }

  test("exists: false") {
    assertTable("""[{"field": [{"exists": false}]}]""",
      existsEntries, Seq(true, false, true, false))
  }

  // test_filtering.py:149-165 (test_filter_prefix)
  private val prefixEntries = Seq(
    """{}""",
    """{"field": null}""",
    """{"field": "value one"}""",
    """{"field": "value two"}""")

  test("prefix") {
    assertTable("""[{"field": [{"prefix": "value"}]}]""",
      prefixEntries, Seq(false, false, true, true))
  }

  test("prefix: longer prefix") {
    assertTable("""[{"field": [{"prefix": "value o"}]}]""",
      prefixEntries, Seq(false, false, true, false))
  }

  test("prefix: non-string value does not match") {
    assertTable("""[{"field": [{"prefix": "1"}]}]""",
      Seq("""{"field": 123}"""), Seq(false))
  }

  test("prefix: non-string reference raises at compile") {
    assertThrows[IllegalArgumentException] {
      run("""[{"field": [{"prefix": 5}]}]""", Seq("""{"field": "a"}"""))
    }
  }

  // test_filtering.py:168-179 (test_filter_wrong_type)
  test("unknown criterium type raises at compile") {
    assertThrows[IllegalArgumentException] {
      run("""[{"field": [{"invalid-type": null, "another": null}]}]""", Seq("""{"field": null}"""))
    }
    assertThrows[IllegalArgumentException] {
      run("""[{"field": [{"not-a-type": 1}]}]""", Seq("""{"field": null}"""))
    }
  }

  // filtering.py:137-138 — empty filter list matches everything
  test("empty filters match everything") {
    assertTable("""[]""", Seq("""{}""", """{"field": 1}"""), Seq(true, true))
  }

  // Python numeric tower: 1 == 1.0, True == 1 (filtering.py uses ==)
  test("numeric tower: int/float/bool cross-equality") {
    assertTable("""[{"field": [1]}]""",
      Seq("""{"field": 1.0}""", """{"field": true}""", """{"field": "1"}"""),
      Seq(true, true, false))
  }

  // native-column resolver: predicates compile onto real columns
  test("native columns: compile against DataFrame schema") {
    import spark.implicits._
    val df = Seq(
      ("purchase", 75.0, """{"k": 10}"""),
      ("click", 75.0, """{"k": 30}"""),
      ("click", 10.0, """{"k": 50}"""),
      ("view", 99.0, """{"k": 70}""")
    ).toDF("event_type", "value", "props")
    val f =
      """[{"event_type": ["purchase"]},
        |  {"event_type": ["click"], "value": [{"numeric": [">=", 50]}]}]""".stripMargin
    val got = df.filter(EventFilter.compile(f, df))
      .select($"event_type", $"value").collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got === Set(("purchase", 75.0), ("click", 75.0)))
    // nested into a JSON column
    val f2 = """[{"props": {"k": [{"numeric": [">", 20, "<=", 60]}]}}]"""
    val got2 = df.filter(EventFilter.compile(f2, df, jsonCols = Set("props")))
      .select($"props").collect().map(_.getString(0)).toSet
    assert(got2 === Set("""{"k": 30}""", """{"k": 50}"""))
    // unknown column behaves as missing: only exists:false matches
    val f3 = """[{"no_such_col": [{"exists": false}]}]"""
    assert(df.filter(EventFilter.compile(f3, df)).count() === 4)
  }

  /** (Filter conditions, scan PushedFilters) of a plan, in plan order. */
  private def filterAndPushed(df: DataFrame): (Seq[String], Seq[String]) = {
    val plan = df.queryExecution.sparkPlan
    (plan.collect { case f: FilterExec => f.condition.toString },
      plan.collect { case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "") })
  }

  // evaluation order: a row the cheap native criterion rejects never
  // parses its JSON document; the numeric range probes the type once
  test("filter_events_nested: the user_id comparison precedes the first JSON parse") {
    val (conds, pushed) = filterAndPushed(
      graft.operators.FilterQueries.filterEventsNested(spark, sf))
    assert(conds.size == 1, conds)
    val cond = conds.head
    val native = """user_id#\d+L < 100\)""".r.findFirstMatchIn(cond)
      .getOrElse(fail(s"no exact user_id comparison in: $cond")).start
    val firstParse = cond.indexOf("parseJson(")
    assert(firstParse >= 0 && native < firstParse, cond)
    // one type probe + one parse per comparison of the range
    assert("parseJson\\(".r.findAllMatchIn(cond).size <= 3, cond)
    assert(pushed.exists(_.contains("LessThan(user_id,100)")), pushed)
  }

  test("native integral criteria compare in the column's type below 2^53 and push down") {
    import spark.implicits._
    val p53 = 1L << 53
    val path = Files.createTempDirectory("filter_exact").toString + "/t"
    Seq(p53 - 2, p53 - 1, p53, p53 + 1, p53 + 2).map(x => (x, (x % 5).toInt))
      .toDF("x", "i").write.parquet(path)
    val df = spark.read.parquet(path)
    def run(f: String): (Seq[Long], Seq[String]) = {
      val got = df.filter(EventFilter.compile(f, df))
      (got.select($"x").collect().map(_.getLong(0)).sorted.toSeq, filterAndPushed(got)._2)
    }
    // |r| < 2^53: compared as a bigint — exact, and in PushedFilters
    val (gt, gtPushed) = run("""[{"x": [{"numeric": [">", 9007199254740990]}]}]""")
    assert(gt == Seq(p53 - 1, p53, p53 + 1, p53 + 2))
    assert(gtPushed.exists(_.contains("GreaterThan(x,9007199254740990)")), gtPushed)
    assert(run("""[{"x": [9007199254740991]}]""")._1 == Seq(p53 - 1))
    assert(run("""[{"x": [{"numeric": ["<=", 9007199254740991.0]}]}]""")._1 == Seq(p53 - 2, p53 - 1))
    // an int column against a whole literal outside the int range:
    // widened, not wrapped
    assert(run("""[{"i": [{"numeric": ["<", 3000000000, ">", -3000000000]}]}]""")._1.size == 5)
    // a fractional literal keeps the double view (i = x % 5 = 0..4)
    assert(run("""[{"i": [{"numeric": ["<", 2.5]}]}]""")._1 == Seq(p53 - 2, p53 - 1, p53))
    // |r| >= 2^53 keeps the double view: 2^53 + 1 rounds to 2^53
    assert(run("""[{"x": [{"numeric": ["=", 9007199254740992]}]}]""")._1 == Seq(p53, p53 + 1))
  }

  test("a malformed JSON document fails only a row that reaches its criteria") {
    import spark.implicits._
    // the JSON field is listed first; the native user_id criterion
    // still runs first and decides the malformed row
    val f = """[{"props": {"k": [{"numeric": [">", 20]}]}, "user_id": [{"numeric": ["<", 100]}]}]"""
    def count(rows: Seq[(Long, String)]): Long = {
      val df = rows.toDF("user_id", "props")
      df.filter(EventFilter.compile(f, df, jsonCols = Set("props"))).count()
    }
    assert(count(Seq((1L, """{"k": 30}"""), (500L, "{not json"))) == 1)
    val e = intercept[Exception](count(Seq((1L, "{not json"), (500L, """{"k": 30}"""))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("MALFORMED")), e)
  }
}
