package graft.text

import graft.SparkSpec
import graft.util.Udfs
import org.apache.spark.sql.Column
import java.sql.Date

class SimilaritySpec extends SparkSpec {
  // seeded generator: property-style checks without extra test deps
  private def randomStrings(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      val len = rnd.nextInt(20)
      new String(Array.fill(len)((rnd.nextInt(96) + 32).toChar))
    }
  }

  /** `sim` over the columns `a`, `b` of a one-row frame holding `a`, `b`. */
  private def numSim(sim: (Column, Column) => Column)(a: Double, b: Double): Double = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b").select(sim($"a", $"b")).head.getDouble(0)
  }

  /** [[Similarity.weightedDateSimCol]] on a one-row frame. */
  private def dateSim(a: String, b: String, yearRange: Double): Double = {
    import spark.implicits._
    Seq((Date.valueOf(a), Date.valueOf(b), yearRange)).toDF("a", "b", "yr")
      .select(Similarity.weightedDateSimCol($"a", $"b", $"yr")).head.getDouble(0)
  }

  test("normalise semantics") {
    assert(Normalize.normalise("  Hello,&nbsp;World! ") === "hello world")
    assert(Normalize.normalise("Paris (France)") === "paris")
    assert(Normalize.normalise("NULL") === null)
    assert(Normalize.normalise("") === null)
    assert(Normalize.normalise(null) === null)
    assert(Normalize.tokenise("Uni Mannheim").toSeq === Seq("uni", "mannheim"))
  }

  test("levenshtein similarity") {
    assert(Similarity.levenshteinSim("abc", "abc") === 1.0)
    assert(Similarity.levenshteinSim("abc", "abd") === 1.0 - 1.0 / 3)
    assert(Similarity.levenshteinSim("", "") === 1.0)
    assert(Similarity.levenshteinSim("a", "") === 0.0)
  }

  test("generalised string jaccard") {
    // identical
    assert(Similarity.generalisedStringJaccard("uni mannheim", "uni mannheim") === 1.0)
    // "yearfounded" vs "yearFounded" normalises equal
    assert(Similarity.generalisedStringJaccard("yearfounded", "yearFounded") === 1.0)
    // below jaccard threshold zeroes out
    assert(Similarity.generalisedStringJaccard("alpha beta gamma", "delta") === 0.0)
    // soft match: one-edit tokens count ("mannhein" ~ "mannheim")
    val s = Similarity.generalisedStringJaccard("uni mannhein", "uni mannheim")
    assert(s > 0.9 && s < 1.0)
  }

  test("GSJ UDFs over normalised operands equal GSJ over the raw strings") {
    import spark.implicits._
    val hostile = NormalizeSpec.hostile.zipWithIndex
    val pairs = for ((a, i) <- hostile; (b, j) <- hostile) yield (i, j, a, b)
    val (na, nb) = (Normalize.normaliseCol($"a"), Normalize.normaliseCol($"b"))
    val got = pairs.toDF("i", "j", "a", "b")
      .select($"i", $"j", Udfs.gsj(na, nb), Udfs.gsj02(na, nb), Udfs.gsjFast(na, nb))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.size === pairs.size)
    pairs.foreach { case (i, j, a, b) =>
      val gsj = Similarity.generalisedStringJaccard(a, b, 0.5, 0.5)
      val gsj02 = Similarity.generalisedStringJaccard(a, b, 0.2, 0.2)
      assert(got((i, j)) === ((gsj, gsj02, gsj)), s"pair ($i, $j)")
    }
  }

  test("numeric sims") {
    val deviation = numSim(Similarity.deviationSimCol) _
    assert(deviation(100, 100) === 1.0)
    assert(deviation(50, 100) === 0.5)
    assert(deviation(-1, 1) === 0.0)
    assert(deviation(0, 5) === 0.0)
    assert(numSim(Similarity.percentageSimCol(_, _))(100, 100) === 1.0)
  }

  test("percentage sim within threshold") {
    val percentage = numSim(Similarity.percentageSimCol(_, _)) _
    assert(math.abs(percentage(100, 102) - (1.0 - 2.0 / 102)) < 1e-12)
    assert(percentage(100, 110) === 0.0)
    assert(percentage(0, 0) === 1.0)
  }

  test("weighted date sim") {
    assert(dateSim("1989-01-01", "1989-01-01", 44) === 1.0)
    // weights day 1, month 3, year 5; the year distance is normalised by
    // the column's year range
    assert(math.abs(dateSim("1989-01-01", "1968-01-01", 44) -
      (1.0 - 5.0 * 21 / 44 / 9)) < 1e-12)
    assert(math.abs(dateSim("1989-03-15", "1989-01-01", 44) -
      (1.0 - (14.0 / 31 + 3.0 * 2 / 12) / 9)) < 1e-12)
    // a range under one year counts as one: any year apart is distance 1
    assert(math.abs(dateSim("1989-01-01", "1968-01-01", 0.5) -
      (1.0 - 5.0 / 9)) < 1e-12)
  }

  test("property: normalise idempotent") {
    randomStrings(500).foreach { a =>
      val n1 = Normalize.normalise(a)
      assert(Normalize.normalise(n1) === n1)
    }
  }
}
