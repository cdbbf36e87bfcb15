package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TextFunctions._

class TextSpec extends AnyFunSuite with SparkSpec {

  private def one[T](c: org.apache.spark.sql.Column, text: String): T = {
    import spark.implicits._
    Seq(text).toDF("t").select(c.as("r")).collect()(0).getAs[T]("r")
  }

  test("whitespace token count") {
    import spark.implicits._
    val df = Seq("one two  three", "", "   ", "solo").toDF("t")
      .select(tokenCountWs($"t").as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(3, 0, 0, 1))
  }

  test("flat token/stop counters are bit-equal to the array formulation") {
    import spark.implicits._
    // adversarial whitespace: Spark's trim removes only 0x20 spaces and
    // split keeps limit -1's leading/trailing empty tokens, so the flat
    // counters carry explicit edge handling — pin the native one-pass
    // scan AND the flat regex oracle against the reference array
    // formulation on every edge class
    val cases = Seq(
      "", " ", "\t", "\n", " \t ", "solo", " solo ", "\tlead", "trail\t",
      "\ttab\tsep\t", "a  b\t\nc", "the the a of", " the\tthe ",
      "the a an of and to in is it that", "no stops here at all",
      "\u00a0nbsp is not java ws", "mixed \u00a0 and\tthe tab", "that\n",
      "das ist nicht le la les 一二三 punct!?", "emoji 🙂 the 🚀 of",
    )
    val df = cases.toDF("t").select(
      tokenCountWs($"t").as("scan_n"),
      graft.text.TextFunctions.tokenCountWsRegex($"t").as("re_n"),
      size(wsTokens($"t")).as("arr_n"),
      graft.text.TextFunctions.scanCounts($"t").getField("hits").getItem(0).as("scan_h"),
      stopHitCountText($"t", EnStop).as("re_h"),
      stopHitCount(wsTokens($"t"), EnStop).as("arr_h"),
      punctCount($"t").as("scan_p"),
      graft.text.TextFunctions.punctCountRegex($"t").as("re_p"),
      graft.text.TextFunctions.scanCounts($"t").getField("chars").as("scan_c"),
      length($"t").as("len_c"))
    df.collect().zip(cases).foreach { case (r, c) =>
      val tag = c.replace("\t", "\\t").replace("\n", "\\n")
      assert(r.getAs[Int]("scan_n") === r.getAs[Int]("arr_n"), s"scan token count for $tag")
      assert(r.getAs[Int]("re_n") === r.getAs[Int]("arr_n"), s"regex token count for $tag")
      assert(r.getAs[Int]("scan_h") === r.getAs[Int]("arr_h"), s"scan stop hits for $tag")
      assert(r.getAs[Int]("re_h") === r.getAs[Int]("arr_h"), s"regex stop hits for $tag")
      assert(r.getAs[Int]("scan_p") === r.getAs[Int]("re_p"), s"punct count for $tag")
      assert(r.getAs[Int]("scan_c") === r.getAs[Int]("len_c"), s"char count for $tag")
    }
  }

  test("native scoring equals the regex formulations on every sf0.001 document") {
    import spark.implicits._
    val bad = Tables.documents(spark, sf).select(
        qualityScoreBp($"text").as("scan_q"),
        graft.text.TextFunctions.qualityScoreBpRegex($"text").as("re_q"),
        languageId($"text").as("scan_l"),
        graft.text.TextFunctions.languageIdRegex($"text").as("re_l"),
        cjkRatio($"text").as("scan_z"),
        graft.text.TextFunctions.cjkRatioRegex($"text").as("re_z"),
        tokenCountBpe($"text").as("scan_b"),
        graft.text.TextFunctions.tokenCountBpeRegex($"text").as("re_b"))
      .filter($"scan_q" =!= $"re_q" || $"scan_l" =!= $"re_l" ||
        $"scan_z" =!= $"re_z" || $"scan_b" =!= $"re_b")
      .count()
    assert(bad === 0L)
  }

  test("winnowing UDF is bit-equal to the Column formulation") {
    import spark.implicits._
    val cases = Seq(
      "", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaa", "ab ab ab ab ab ab ab",
      "日本語のテキストで五文字グラムを検証する",
      "mixed 日本語 and ascii with spaces",
      // astral plane: one CODE POINT is two UTF-16 units — pins the
      // code-point (not char) gram slicing
      "emoji 🙂 inside 🚀 the text here",
    )
    val df = cases.toDF("t").select(
      fingerprint($"t").as("u"),
      graft.text.TextFunctions.fingerprintHof($"t").as("h"))
    df.collect().zip(cases).foreach { case (r, c) =>
      assert(r.getSeq[Long](0).toList === r.getSeq[Long](1).toList, s"fingerprint of: $c")
    }
  }

  test("bpe-ish token count: letter runs, digit runs, punct marks") {
    import spark.implicits._
    // "it's 42%!" -> [it][']['s][42][%][!] = 6
    assert(one[Int](tokenCountBpe($"t"), "it's 42%!") === 6)
    assert(one[Int](tokenCountBpe($"t"), "plain words here") === 3)
  }

  test("native bpe count is bit-equal to the regex formulation") {
    import spark.implicits._
    // adversarial run boundaries: letter/digit transitions (abc123 = 2
    // matches by alternation order), non-ASCII letters fall in the
    // punct class one-code-point-per-match, astral code points are ONE
    // match not two UTF-16 units, ws breaks runs
    val cases = Seq(
      "", " ", "abc", "123", "abc123", "a1b2c3", "it's 42%!",
      "über café", "一二三", "naïve", "🙂🚀", "a🙂b", "a b", "a\tb",
      "x-1.5e7", "  pad  ", "ABCdef", "mixed 日本語 and ascii 42",
    )
    val df = cases.toDF("t").select(
      tokenCountBpe($"t").as("scan_b"),
      graft.text.TextFunctions.tokenCountBpeRegex($"t").as("re_b"))
    df.collect().zip(cases).foreach { case (r, c) =>
      assert(r.getAs[Int]("scan_b") === r.getAs[Int]("re_b"), s"bpe count of: $c")
    }
  }

  test("quality score in [0,1], prose beats punctuation soup") {
    import spark.implicits._
    val prose = "the cat sat on the mat and it is a fine day in the sun"
    val soup = "@#$% ^&*() !!!! ;;;; ::::"
    val qProse = one[Double](qualityScoreBp($"t") / 10000.0, prose)
    val qSoup = one[Double](qualityScoreBp($"t") / 10000.0, soup)
    assert(qProse > qSoup)
    assert(qProse >= 0.0 && qProse <= 1.0 && qSoup >= 0.0 && qSoup <= 1.0)
  }

  test("language id picks the stopword-dominant language") {
    import spark.implicits._
    val cases = Seq(
      "the cat is in the house and it is warm" -> "en",
      "der hund ist nicht in das haus und die katze" -> "de",
      "le chat est dans la maison et les chiens pour pas" -> "fr",
      "el gato es una casa y los perros que por con para" -> "es",
      "中文文本测试" -> "zh")
    cases.foreach { case (text, expected) =>
      assert(one[String](languageId($"t"), text) === expected, s"text: $text")
    }
  }

  test("winnowing fingerprint: deterministic, edit-robust, distinct docs differ") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val aEdit = a.replace("lazy", "hazy") // small edit
    val b = "completely different content with no overlap whatsoever present"
    def fp(s: String): Seq[Long] =
      one[scala.collection.Seq[Long]](fingerprint($"t"), s).toSeq
    assert(fp(a) === fp(a)) // deterministic
    val shared = fp(a).toSet.intersect(fp(aEdit).toSet).size.toDouble /
      fp(a).toSet.union(fp(aEdit).toSet).size
    assert(shared > 0.5, s"edit-robustness: $shared")
    val cross = fp(a).toSet.intersect(fp(b).toSet)
    assert(cross.size <= 1)
  }

  test("fingerprint of short/empty text is empty, not an error") {
    import spark.implicits._
    assert(one[scala.collection.Seq[Long]](fingerprint($"t"), "abc").isEmpty)
    assert(one[scala.collection.Seq[Long]](fingerprint($"t"), "").isEmpty)
  }
}
