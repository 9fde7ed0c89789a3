package graft.text

import graft.SparkSpec
import graft.util.Udfs

class SimilaritySpec extends SparkSpec {
  // seeded generator: property-style checks without extra test deps
  private def randomStrings(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      val len = rnd.nextInt(20)
      new String(Array.fill(len)((rnd.nextInt(96) + 32).toChar))
    }
  }

  // Goldens from reference WebJaccardStringSimilarityTest.java:14-21
  test("token jaccard goldens") {
    assert(Similarity.tokenJaccard("republic", "republic party") === 0.5)
    assert(Similarity.tokenJaccard("republic", "republic") === 1.0)
    assert(Similarity.tokenJaccard("monarchy", "republic") === 0.0)
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
    assert(Similarity.deviationSim(100, 100) === 1.0)
    assert(Similarity.deviationSim(50, 100) === 0.5)
    assert(Similarity.deviationSim(-1, 1) === 0.0)
    assert(Similarity.percentageSim(100, 100) === 1.0)
  }

  test("percentage sim within threshold") {
    val s = Similarity.percentageSim(100, 102)
    assert(math.abs(s - (1.0 - 2.0 / 102)) < 1e-9)
    assert(Similarity.percentageSim(100, 110) === 0.0)
  }

  test("weighted date sim") {
    assert(Similarity.weightedDateSim(1989, 1, 1, 1989, 1, 1, 44) === 1.0)
    val s = Similarity.weightedDateSim(1989, 1, 1, 1968, 1, 1, 44)
    assert(s < 1.0 && s > 0.0)
  }

  test("property: jaccard symmetric and bounded") {
    val ss = randomStrings(200)
    for (a <- ss.take(40); b <- ss.slice(40, 80)) {
      val s1 = Similarity.tokenJaccard(a, b)
      val s2 = Similarity.tokenJaccard(b, a)
      assert(s1 === s2)
      assert(s1 >= 0.0 && s1 <= 1.0)
    }
  }

  test("property: normalise idempotent") {
    randomStrings(500).foreach { a =>
      val n1 = Normalize.normalise(a)
      assert(Normalize.normalise(n1) === n1)
    }
  }
}
