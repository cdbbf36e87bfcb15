package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.filtering.EventFilter

/** Property-based parity: the compiled filter Column vs a direct
  * Scala interpreter of the reference semantics (filtering.py:96-155 —
  * OR/AND/OR composition, Python equality incl. the numeric tower,
  * missing-vs-null, exists/prefix/anything-but/numeric), over
  * generator-driven random entries and filter documents.
  */
class FilterPropertySpec extends AnyFunSuite with SparkSpec {

  // ---- value model ----------------------------------------------------
  sealed trait V
  case object VNull extends V
  case class VStr(s: String) extends V
  case class VNum(d: Double, isInt: Boolean) extends V
  case class VBool(b: Boolean) extends V
  case class VObj(fields: Map[String, V]) extends V

  private def toJson(v: V): String = v match {
    case VNull => "null"
    case VStr(s) => "\"" + s + "\"" // generated strings are alphanumeric
    case VNum(d, true) => d.toLong.toString
    case VNum(d, false) => d.toString
    case VBool(b) => b.toString
    case VObj(f) => f.map { case (k, x) => s""""$k": ${toJson(x)}""" }.mkString("{", ", ", "}")
  }

  // ---- reference interpreter -----------------------------------------
  private def lookup(entry: VObj, path: List[String]): Either[Unit, V] = path match {
    case Nil => Right(entry)
    case k :: rest => entry.fields.get(k) match {
      case None => Left(())
      case Some(o: VObj) => lookup(o, rest)
      case Some(v) if rest.isEmpty => Right(v)
      case Some(_) => Left(()) // descending into a scalar: treated missing
    }
  }

  /** Python `==` over our value model (True == 1, 1 == 1.0, "1" != 1). */
  private def pyEq(a: V, b: V): Boolean = (a, b) match {
    case (VNull, VNull) => true
    case (VStr(x), VStr(y)) => x == y
    case (x, y) =>
      def num(v: V): Option[Double] = v match {
        case VNum(d, _) => Some(d)
        case VBool(bb) => Some(if (bb) 1.0 else 0.0)
        case _ => None
      }
      (num(x), num(y)) match {
        case (Some(dx), Some(dy)) => dx == dy
        case _ => false
      }
  }

  sealed trait Crit
  case class CEq(v: V) extends Crit
  case class CAnythingBut(vs: List[V]) extends Crit
  case class CNumeric(ops: List[(String, Double)]) extends Crit
  case class CExists(b: Boolean) extends Crit
  case class CPrefix(p: String) extends Crit

  private def critJson(c: Crit): String = c match {
    case CEq(v) => toJson(v)
    case CAnythingBut(vs) => s"""{"anything-but": [${vs.map(toJson).mkString(", ")}]}"""
    case CNumeric(ops) =>
      s"""{"numeric": [${ops.map { case (o, r) => s""""$o", $r""" }.mkString(", ")}]}"""
    case CExists(b) => s"""{"exists": $b}"""
    case CPrefix(p) => s"""{"prefix": "$p"}"""
  }

  private def evalCrit(c: Crit, looked: Either[Unit, V]): Boolean = c match {
    case CExists(b) => b == looked.isRight
    case _ => looked match {
      case Left(_) => false
      case Right(v) => c match {
        case CEq(cv) => pyEq(v, cv)
        case CAnythingBut(vs) => !vs.exists(pyEq(v, _))
        case CNumeric(ops) =>
          val num = v match {
            case VNum(d, _) => Some(d)
            case VBool(b) => Some(if (b) 1.0 else 0.0)
            case _ => None // reference raises TypeError; compiled: no-match
          }
          num.exists(d => ops.forall {
            case ("=", r) => d == r
            case (">", r) => d > r
            case (">=", r) => d >= r
            case ("<", r) => d < r
            case ("<=", r) => d <= r
            case _ => false
          })
        case CPrefix(p) => v match {
          case VStr(s) => s.startsWith(p)
          case _ => false
        }
        case CExists(_) => throw new IllegalStateException
      }
    }
  }

  // a filter: AND over (path -> OR over criteria)
  private case class Filt(fields: List[(List[String], List[Crit])])

  private def filtJson(f: Filt): String = {
    def fieldJson(path: List[String], crits: List[Crit]): String = path match {
      case k :: Nil => s""""$k": [${crits.map(critJson).mkString(", ")}]"""
      case k :: rest => s""""$k": {${fieldJson(rest, crits)}}"""
      case Nil => throw new IllegalStateException
    }
    f.fields.map { case (p, cs) => fieldJson(p, cs) }.mkString("{", ", ", "}")
  }

  private def evalFilters(filters: List[Filt], entry: VObj): Boolean =
    filters.isEmpty || filters.exists(f =>
      f.fields.forall { case (path, crits) =>
        val looked = lookup(entry, path)
        crits.exists(evalCrit(_, looked))
      })

  // ---- generators -----------------------------------------------------
  private val keys = List("a", "b", "c")
  private val strPool = List("x", "xy", "value", "")
  private val numPool = List(0.0, 1.0, 2.5, -1.0)

  private val genScalar: Gen[V] = Gen.oneOf(
    Gen.const(VNull),
    Gen.oneOf(strPool).map(VStr.apply),
    Gen.oneOf(numPool).flatMap(d => Gen.oneOf(true, false).map(i => VNum(d, i && d == math.floor(d)))),
    Gen.oneOf(true, false).map(VBool.apply))

  private val genEntry: Gen[VObj] = for {
    top <- Gen.mapOf(Gen.zip(Gen.oneOf(keys), genScalar))
    nested <- Gen.mapOf(Gen.zip(Gen.oneOf(keys), genScalar))
    hasNested <- Gen.oneOf(true, false)
  } yield VObj(if (hasNested) top + ("n" -> VObj(nested)) else top)

  private val genPath: Gen[List[String]] = Gen.oneOf(
    Gen.oneOf(keys).map(List(_)),
    Gen.oneOf(keys).map(k => List("n", k)))

  private val genCrit: Gen[Crit] = Gen.oneOf(
    genScalar.map(CEq.apply),
    Gen.nonEmptyListOf(genScalar).map(vs => CAnythingBut(vs.take(3))),
    Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("=", ">", ">=", "<", "<="), Gen.oneOf(numPool)))
      .map(ops => CNumeric(ops.take(2))),
    Gen.oneOf(true, false).map(CExists.apply),
    Gen.oneOf(strPool.filter(_.nonEmpty)).map(CPrefix.apply))

  private val genFilt: Gen[Filt] = for {
    n <- Gen.choose(1, 2)
    fields <- Gen.listOfN(n, Gen.zip(genPath, Gen.nonEmptyListOf(genCrit).map(_.take(2))))
  } yield Filt(fields)

  private val genCase: Gen[(List[Filt], List[VObj])] = for {
    nf <- Gen.choose(1, 2)
    filters <- Gen.listOfN(nf, genFilt)
    entries <- Gen.listOfN(25, genEntry)
  } yield (filters, entries)

  test("compiled filter == reference interpreter on 40 random filter sets x 25 entries") {
    import spark.implicits._
    val cases = (0 until 40).flatMap(i =>
      genCase.apply(Gen.Parameters.default, Seed(1000L + i)))
    assert(cases.size >= 35, "generator should rarely fail")
    cases.foreach { case (filters, entries) =>
      val filterJson = filters.map(filtJson).mkString("[", ", ", "]")
      val expected = entries.map(evalFilters(filters, _))
      val df = entries.map(toJson).zipWithIndex.toDF("entry", "idx")
      val got = df.withColumn("m", EventFilter.onJsonString(filterJson, $"entry"))
        .orderBy($"idx").select($"m").collect().map(_.getBoolean(0)).toSeq
      assert(got === expected,
        s"\nfilters: $filterJson\nentries: ${entries.map(toJson).mkString("\n")}")
    }
  }

  // ---- native columns beside a JSON column ----------------------------
  // bigint a, string b, double c and boolean d are native columns — on
  // every row, a SQL NULL being a present null, as a reference dict
  // holding None; `j` is a JSON document with nested keys; `z` is in no
  // schema (a missing key). Filters mix the two kinds in any order, so
  // the compiler's cheapest-first reordering is exercised against the
  // interpreter, which evaluates in the user's order.
  private case class Mixed(
      a: Option[Long], b: Option[String], c: Option[Double], d: Option[Boolean], j: VObj) {
    def entry: VObj = VObj(Map(
      "a" -> a.fold[V](VNull)(x => VNum(x.toDouble, isInt = true)),
      "b" -> b.fold[V](VNull)(VStr.apply),
      "c" -> c.fold[V](VNull)(x => VNum(x, isInt = false)),
      "d" -> d.fold[V](VNull)(VBool.apply),
      "j" -> j))
  }

  private val genMixed: Gen[Mixed] = for {
    a <- Gen.option(Gen.oneOf(0L, 1L, -1L, 2L))
    b <- Gen.option(Gen.oneOf(strPool))
    c <- Gen.option(Gen.oneOf(numPool))
    d <- Gen.option(Gen.oneOf(true, false))
    j <- genEntry
  } yield Mixed(a, b, c, d, j)

  private val genMixedPath: Gen[List[String]] = Gen.oneOf(
    Gen.oneOf("a", "b", "c", "d", "z").map(List(_)),
    genPath.map("j" :: _))

  private val genMixedFilt: Gen[Filt] = for {
    n <- Gen.choose(2, 3)
    fields <- Gen.listOfN(n, Gen.zip(genMixedPath, Gen.nonEmptyListOf(genCrit).map(_.take(2))))
  } yield Filt(fields)

  test("native columns beside a nested JSON column: compiled filter == reference interpreter") {
    import spark.implicits._
    val cases = (0 until 30).flatMap(i => (for {
      nf <- Gen.choose(1, 2)
      filters <- Gen.listOfN(nf, genMixedFilt)
      rows <- Gen.listOfN(25, genMixed)
    } yield (filters, rows)).apply(Gen.Parameters.default, Seed(2000L + i)))
    assert(cases.size >= 25, "generator should rarely fail")
    cases.foreach { case (filters, rows) =>
      val filterJson = filters.map(filtJson).mkString("[", ", ", "]")
      val expected = rows.map(r => evalFilters(filters, r.entry))
      val df = rows.zipWithIndex.map { case (r, i) => (i, r.a, r.b, r.c, r.d, toJson(r.j)) }
        .toDF("idx", "a", "b", "c", "d", "j")
      val kept = df.filter(EventFilter.compile(filterJson, df, jsonCols = Set("j")))
        .select($"idx").collect().map(_.getInt(0)).toSet
      val strict = df.withColumn("m", EventFilter.compileStrict(filterJson, df, jsonCols = Set("j")))
        .orderBy($"idx").select($"m").collect().map(_.getBoolean(0)).toSeq
      val msg = s"\nfilters: $filterJson\nrows: ${rows.mkString("\n")}"
      assert(kept === expected.zipWithIndex.collect { case (true, i) => i }.toSet, msg)
      assert(strict === expected, msg)
    }
  }
}
