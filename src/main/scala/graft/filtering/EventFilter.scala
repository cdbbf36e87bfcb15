package graft.filtering

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.json4s._
import org.json4s.jackson.JsonMethods

/** AWS Lambda event-filtering syntax compiled to a Catalyst `Column`.
  *
  * Re-expression of the reference's row-at-a-time interpreter
  * (datatoolz/filtering.py:96-155) as a one-time compile to a Spark
  * boolean expression, so filtering runs inside whole-stage codegen and
  * — for native columns — pushes down to the parquet scan.
  *
  * Evaluation order: every AND group (the fields of a filter, nested
  * objects included) and the OR over the filter list is emitted
  * cheapest first — criteria on native columns before criteria that
  * parse a JSON column — and in the user's order within one cost
  * class. SQL AND/OR short-circuit, so a row a native criterion
  * rejects (or a filter of native criteria accepts) is never parsed.
  * AND/OR are commutative and, in filter context, false and NULL both
  * drop a row, so the order never changes which rows match.
  *
  * Native pushdown is exact: an integral column compared with a whole
  * number |r| < 2^53 is compared in the column's own type (`user_id <
  * 100`, which the parquet scan accepts), not as `cast(user_id as
  * double) < 100.0` (which it does not). Both agree on every value —
  * distinct integers differ by at least 1 and doubles are monotone and
  * integer-exact below 2^53. Any other literal keeps the double view.
  *
  * Malformed JSON: `parse_json` throws on a document that is not
  * JSON, and only rows that reach a criterion on that column parse
  * it. A malformed document on a row that a cheaper criterion already
  * decided does not fail the query; on a row that reaches its criteria
  * it does.
  *
  * Semantics (matching filtering.py + tests/test_filtering.py):
  *  - OR over the filter list; AND over fields within a filter (nested
  *    dicts AND recursively); OR over the criteria list of a field.
  *  - criteria: scalar equality (null/bool/number/string),
  *    `anything-but` (list), `numeric` ([op, ref, ...] pairs, all must
  *    hold), `exists` (key presence, null value still "exists"),
  *    `prefix` (string values only).
  *  - a missing key fails every criterium except `exists: false`;
  *    a present-but-null value "exists" and equals only `null`.
  *  - Python's numeric tower (`1 == 1.0`, `True == 1`) is mirrored by
  *    comparing numerically-typed values (incl. booleans) as doubles,
  *    or exactly in an integral column's type (see native pushdown
  *    above); cross-type string/number comparisons are always false.
  *  - malformed filters (non-list `anything-but`, odd-length `numeric`,
  *    non-string `prefix`, unknown criterium type / operator) throw
  *    IllegalArgumentException at COMPILE time — the batch analogue of
  *    the reference's per-call ValueError/TypeError
  *    (filtering.py:38-50, 69-71, 111-112).
  *  - deviation (documented): the reference raises TypeError when a
  *    `numeric` op meets a non-numeric VALUE (data-dependent, per row);
  *    a distributed filter treats that row as non-matching instead.
  *
  * Null-vs-missing on semi-structured data uses Spark 4 Variant:
  * `variant_get` returns SQL NULL only for a MISSING path, while a
  * present JSON null is a variant-null (`is_variant_null`), which is
  * exactly the reference's `_get_value` err-vs-None distinction.
  */
object EventFilter {

  // ---- value access abstraction -------------------------------------

  /** How dear a ref's views are to evaluate, cheapest first: a native
    * column read, or a parse of a JSON document. */
  sealed abstract class Cost(private val rank: Int) extends Ordered[Cost] {
    def compare(that: Cost): Int = rank.compare(that.rank)
  }
  case object Cheap extends Cost(0)
  case object JsonParse extends Cost(1)

  /** A `numeric` comparison: the value's numeric view against a literal. */
  type Comparison = (Column, Column) => Column

  /** A resolved field path: presence + typed views of the value. Each
    * view is NULL when the value is absent or not of that type, so
    * criteria compile to null-safe 2-valued booleans via coalesce. */
  sealed trait ValueRef {
    def cost: Cost
    def present: Column
    def isNullValue: Column

    /** string-typed value or NULL */
    def str: Column

    /** every `op(value, r)` holds on the numeric view (booleans count
      * as 0/1, like Python); NULL for absent values and for
      * strings/objects/arrays — `"1"` must not equal `1`. `cmps` is
      * non-empty. */
    def numeric(cmps: Seq[(Comparison, Double)]): Column
  }

  private final case class VariantRef(root: Column, path: Seq[String]) extends ValueRef {
    // Spark's variant path parser does not interpret escape sequences
    // inside ['...'] segments, so keys containing a quote or backslash
    // cannot be addressed — reject them at compile time rather than
    // emitting an escape the parser won't honor.
    path.filter(k => k.contains("'") || k.contains("\\")).foreach(k => fail(
      s"JSON field name '$k' contains a quote or backslash, which the variant " +
        "path syntax cannot address; rename the field or pre-extract it to a column"))
    private val p = "$" + path.map(k => "['" + k + "']").mkString
    private def vg = variant_get(root, p, "variant")
    private def schema = schema_of_variant(vg)
    val cost: Cost = JsonParse
    val present: Column = vg.isNotNull
    val isNullValue: Column = coalesce(is_variant_null(vg), lit(false))
    val str: Column = when(schema === "STRING", try_variant_get(root, p, "string"))
    // one type probe guards every comparison: each mention of the
    // value re-parses the document (FilterExec has no common
    // subexpression elimination)
    def numeric(cmps: Seq[(Comparison, Double)]): Column = {
      val x = try_variant_get(root, p, "double")
      when(schema =!= "STRING", cmps.map { case (op, r) => op(x, lit(r)) }.reduce(_ && _))
    }
  }

  private final case class NativeRef(c: Column, dt: DataType) extends ValueRef {
    val cost: Cost = Cheap
    val present: Column = lit(true) // schema columns exist on every row
    val isNullValue: Column = c.isNull
    val str: Column = dt match {
      case StringType => c
      case _          => lit(null).cast(StringType)
    }
    def numeric(cmps: Seq[(Comparison, Double)]): Column = cmps.map { case (op, r) =>
      dt match {
        // exact in the column's type (see the object doc): the form
        // the parquet scan can push down
        case ByteType | ShortType | IntegerType | LongType
            if r.isWhole && math.abs(r) < ExactDoubleBound => op(c, lit(r.toLong))
        case _: NumericType | BooleanType => op(c.cast(DoubleType), lit(r))
        case _ => lit(null).cast(BooleanType)
      }
    }.reduce(_ && _)
  }

  /** 2^53: every integer below it in magnitude is exact as a double. */
  private val ExactDoubleBound = 9007199254740992.0

  /** A path that cannot resolve in this schema: behaves like a missing
    * key on every row (only `exists: false` matches). */
  private case object AbsentRef extends ValueRef {
    val cost: Cost = Cheap
    val present: Column = lit(false)
    val isNullValue: Column = lit(false)
    val str: Column = lit(null).cast(StringType)
    def numeric(cmps: Seq[(Comparison, Double)]): Column = lit(null).cast(BooleanType)
  }

  // ---- public API ----------------------------------------------------

  /** Compile `filterJson` against a DataFrame's schema, for use in
    * `df.filter(...)`. Top-level path segments resolve to native
    * columns (struct fields descend); any column named in `jsonCols`
    * is parsed as a JSON document and deeper segments resolve through
    * it with exact null-vs-missing semantics.
    *
    * The result is a FILTER-context predicate: a non-matching row
    * evaluates to false OR null (both excluded by filter). Leaving
    * nulls un-coalesced is deliberate — a `coalesce(pred, false)`
    * wrapper is opaque to the parquet filter translator and kills
    * scan pushdown for native-column criteria (three-valued logic is
    * only corrected where it changes the answer: under the NOT of
    * `anything-but`). Use `compileStrict` where a real boolean VALUE
    * is needed. */
  def compile(filterJson: String, df: DataFrame, jsonCols: Set[String] = Set.empty): Column =
    compileWith(filterJson, dataFrameResolver(df, jsonCols))

  /** `compile`, coalesced to a 2-valued boolean — the exact value the
    * reference's `Filter.__call__` returns per row. For select-list /
    * value use; in a filter() prefer `compile` (pushdown). */
  def compileStrict(filterJson: String, df: DataFrame, jsonCols: Set[String] = Set.empty): Column =
    coalesce(compile(filterJson, df, jsonCols), lit(false))

  /** Compile against a single JSON-string column holding the whole
    * entry (the direct analogue of the reference filtering a dict);
    * 2-valued like the reference's boolean return. */
  def onJsonString(filterJson: String, jsonStr: Column): Column =
    coalesce(compileWith(filterJson, path => VariantRef(parse_json(jsonStr), path)), lit(false))

  /** Compile with a caller-supplied path resolver. */
  def compileWith(filterJson: String, resolve: Seq[String] => ValueRef): Column = {
    val parsed = JsonMethods.parse(filterJson)
    parsed match {
      case JNull | JNothing    => lit(true)
      case JArray(Nil)         => lit(true)
      case JArray(filters)     =>
        cheapestFirst(filters.map {
          case JObject(fields) => compileFilter(fields, Nil, resolve)
          case other => fail(s"each filter must be an object, got: $other")
        })._1.reduce(_ || _)
      case other => fail(s"filters must be a list of objects, got: $other")
    }
  }

  // ---- compiler ------------------------------------------------------

  /** Stable sort by cost (the user's order within one class), plus the
    * highest cost among the parts. */
  private def cheapestFirst(parts: List[(Column, Cost)]): (List[Column], Cost) =
    (parts.sortBy(_._2).map(_._1), (Cheap :: parts.map(_._2)).max)

  /** One filter object → (AND of its fields, cheapest first; its cost). */
  private def compileFilter(
      fields: List[(String, JValue)],
      root: Seq[String],
      resolve: Seq[String] => ValueRef): (Column, Cost) = {
    val parts = fields.flatMap {
      case (field, JArray(criteria)) =>
        val ref = resolve(root :+ field)
        val ors = criteria.map(c => compileCriterium(ref, c))
        Some((ors.reduceOption(_ || _).getOrElse(lit(false)), ref.cost))
      case (field, JObject(nested)) =>
        Some(compileFilter(nested, root :+ field, resolve))
      // the reference silently skips criteria that are neither list nor
      // dict (filtering.py:149-154) — mirror that
      case _ => None
    }
    val (ordered, cost) = cheapestFirst(parts)
    (ordered.reduceOption(_ && _).getOrElse(lit(true)), cost)
  }

  /** One criterium → a filter-context predicate Column (false and NULL
    * are both "no match"; NULL is corrected to false only where it
    * sits under a NOT). */
  private def compileCriterium(ref: ValueRef, c: JValue): Column = c match {
    case JNull        => ref.isNullValue
    case JString(s)   => ref.str === lit(s)
    case JInt(_) | JLong(_) | JDouble(_) | JDecimal(_) | JBool(_) =>
      ref.numeric(Seq((NumericOps("="), numericValue(c))))

    case JObject(List((kind, body))) => kind match {
      case "anything-but" =>
        val items = body match {
          case JArray(xs) => xs
          case _ => fail("'anything-but' criterium reference must be a list of values")
        }
        // NULL flips meaning under NOT — coalesce each operand here
        val eqAny = items.map(i => coalesce(compileCriterium(ref, i), lit(false)))
          .reduceOption(_ || _).getOrElse(lit(false))
        ref.present && !eqAny

      case "numeric" =>
        val items = body match {
          case JArray(xs) if xs.length % 2 == 0 => xs
          case JArray(_) => fail(
            "'numeric' criterium reference must be an even sized array in form of [operation1, reference_value1, ...]")
          case _ => fail("'numeric' criterium reference must be an array")
        }
        val cmps = items.grouped(2).map {
          case List(JString(op), refVal) =>
            (NumericOps.getOrElse(op, fail(s"unknown 'numeric' operator: '$op'")),
              numericValue(refVal))
          case other => fail(s"'numeric' items must be [operator, value] pairs, got: $other")
        }.toList
        // all([]) is True in Python: an empty numeric list matches any
        // present value. A non-empty one needs no presence test: an
        // absent value makes every comparison NULL, which filter
        // context drops and `anything-but` coalesces.
        if (cmps.isEmpty) ref.present else ref.numeric(cmps)

      case "exists" =>
        body match {
          case JBool(true)  => ref.present
          case JBool(false) => !ref.present
          case other => fail(s"'exists' criterium reference must be a boolean, got: $other")
        }

      case "prefix" =>
        val p = body match {
          case JString(s) => s
          case _ => fail("'prefix' criterium reference must be a string")
        }
        ref.str.startsWith(p)

      case other => fail(s"unknown criterium type: '$other'")
    }

    case other => fail(s"unsupported criterium: $other")
  }

  private val NumericOps: Map[String, Comparison] = Map(
    "=" -> (_ === _), ">" -> (_ > _), ">=" -> (_ >= _), "<" -> (_ < _), "<=" -> (_ <= _))

  private def numericValue(v: JValue): Double = v match {
    case JInt(n)     => n.toDouble
    case JLong(n)    => n.toDouble
    case JDouble(n)  => n
    case JDecimal(n) => n.toDouble
    case JBool(b)    => if (b) 1.0 else 0.0
    case other => fail(s"'numeric' reference value must be a number, got: $other")
  }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  // ---- path resolution over a DataFrame ------------------------------

  private def dataFrameResolver(df: DataFrame, jsonCols: Set[String]): Seq[String] => ValueRef = {
    val schema = df.schema
    path => {
      val head = path.head
      if (jsonCols.contains(head)) {
        if (path.tail.isEmpty) NativeRef(col(head), StringType)
        else VariantRef(parse_json(col(head)), path.tail)
      } else schema.fields.find(_.name == head) match {
        case None => AbsentRef
        case Some(f) =>
          // descend struct fields; a segment absent from the schema is
          // a missing key on every row
          var cur: Column = col(head)
          var dt: DataType = f.dataType
          var absent = false
          path.tail.foreach { seg =>
            if (!absent) dt match {
              case st: StructType => st.fields.find(_.name == seg) match {
                case Some(sf) => cur = cur.getField(seg); dt = sf.dataType
                case None     => absent = true
              }
              case _ => absent = true
            }
          }
          if (absent) AbsentRef else NativeRef(cur, dt)
      }
    }
  }
}
