package graft.text

import graft.SparkSpec

/** The normalise kernel column, the builtin regexp chain it replaced
  * ([[ReferenceExprs.normaliseExpr]]) and the pure [[Normalize.normalise]]
  * agree row for row on hostile web-cell text. */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._
  import NormalizeSpec.hostile

  test("kernel column, reference chain and pure normalise agree row for row") {
    val df = hostile.zipWithIndex.map { case (s, i) => (i, s) }.toDF("i", "s")
    val rows = df.select($"i", Normalize.normaliseCol($"s"),
        ReferenceExprs.normaliseExpr($"s"))
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows.size === hostile.size)
    hostile.zipWithIndex.foreach { case (s, i) =>
      val pure = Normalize.normalise(s)
      assert(rows(i) === ((pure, pure)), s"input ${Option(s).map(_.map(_.toInt))}")
    }
  }

  test("tokenise splits the normalised string") {
    assert(Normalize.tokenise(" (x) Rock &amp; Roll ").toSeq === Seq("rock", "roll"))
    assert(Normalize.tokenise("null").isEmpty)
    assert(Normalize.tokenise(null).isEmpty)
  }
}

object NormalizeSpec {
  /** Hostile web-cell text: nulls, blanks, escapes, brackets, non-ASCII. */
  val hostile: Seq[String] = Seq(
    null, "", "NULL", "null", " Null ", "   ", "\t\n", "a\tb\nc\r\nd",
    "Hello,&nbsp;World!", "a&nbspb", "&nbsp;", "&amp;&quot;x&apos;&#39;",
    "Paris (France)", "a (b (c) d) e", "open (bracket", "close) bracket",
    "()", "(null)", "Z\u00fcrich", "\u0130stanbul", "\u0130", "\u212A",
    "\u212Aelvin 300\u212A", "\u00c0\u00c9\u00ce\u00d5\u00dc \u00df", "\u03a3\u039f\u03a3",
    "0123456789", "007", "3.14", "1,234,567", "2012-07-16", "\u65e5\u672c\u8a9e",
    "emoji \ud83d\ude00 ok", "MiXeD-CaSe_with_underscores")
}
