package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Similarity measures with the configurations the reference uses
 * (catalogued in SURVEY.md §2.3; reference sites under /root/reference:
 * t2k/match/comparators/SchemaLabelComparator.java:32-40
 * (GeneralisedStringJaccard(Levenshtein, 0.5, 0.5)),
 * t2k/match/comparators/MatchableTableRowDateComparator.java:50-82
 * (WeightedDateSimilarity(1,3,5) with year distance normalised by column
 * year range), T2KMatch.java:676 (PercentageSimilarity(0.05))).
 *
 * Each measure has the one form production runs: the GSJ kernel is
 * pure Scala (the `Udfs.gsj` UDFs call it), the numeric and date measures
 * are Catalyst Column expressions, so the distributed path stays inside
 * whole-stage codegen. Token Jaccard ("WebJaccard",
 * WebJaccardStringSimilarity.java:44-54) is the score of
 * `Candidates.generate`, computed inside its token join.
 */
object Similarity {

  // ---- Levenshtein (normalised edit-distance similarity) -----------------
  def levenshtein(a: String, b: String): Int = {
    if (a == b) return 0
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    var j = 0
    while (j <= b.length) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, b.length + 1)
      i += 1
    }
    prev(b.length)
  }

  def levenshteinSim(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val m = math.max(a.length, b.length)
    if (m == 0) 1.0 else 1.0 - levenshtein(a, b).toDouble / m
  }

  /** Column form: 1 - levenshtein/greatest(length) — all builtins. */
  def levenshteinSimCol(a: Column, b: Column): Column = {
    val m = greatest(length(a), length(b))
    when(m === 0, 1.0).otherwise(lit(1.0) - org.apache.spark.sql.functions.levenshtein(a, b).cast("double") / m)
  }

  // ---- Generalised string Jaccard (soft token match via Levenshtein) -----
  /**
   * Jaccard where tokens count as matched if their Levenshtein similarity
   * >= innerThreshold; matched pairs are chosen greedily by descending
   * similarity; score = sum(matchedSims) / (|A| + |B| - matched); results
   * below jaccardThreshold are zeroed. Config in the reference: (0.5, 0.5).
   */
  def generalisedStringJaccard(a: String, b: String,
                               innerThreshold: Double = 0.5,
                               jaccardThreshold: Double = 0.5): Double =
    gsjTokens(Normalize.tokenise(a), Normalize.tokenise(b),
      innerThreshold, jaccardThreshold)

  /** The GSJ kernel over token arrays: [[generalisedStringJaccard]] and
    * the `Udfs.gsj` UDFs (which only split normalised operands) share it. */
  def gsjTokens(ta: Array[String], tb: Array[String],
                innerThreshold: Double, jaccardThreshold: Double): Double = {
    if (ta.isEmpty || tb.isEmpty) return 0.0
    val pairs = for {
      i <- ta.indices; j <- tb.indices
      s = levenshteinSim(ta(i), tb(j)) if s >= innerThreshold
    } yield (s, i, j)
    val usedA = new Array[Boolean](ta.length)
    val usedB = new Array[Boolean](tb.length)
    var simSum = 0.0
    var matched = 0
    pairs.sortBy { case (s, i, j) => (-s, i, j) }.foreach { case (s, i, j) =>
      if (!usedA(i) && !usedB(j)) { usedA(i) = true; usedB(j) = true; simSum += s; matched += 1 }
    }
    val denom = ta.length + tb.length - matched
    val score = if (denom == 0) 0.0 else simSum / denom
    if (score >= jaccardThreshold) score else 0.0
  }

  // ---- Numeric similarities ---------------------------------------------
  /** Ratio/deviation similarity (WInte.r DeviationSimilarity shape). */
  def deviationSimCol(a: Column, b: Column): Column = {
    val absA = abs(a); val absB = abs(b)
    when(a === b, 1.0)
      .when(a === 0.0 || b === 0.0, 0.0)
      .when((a > 0) =!= (b > 0), 0.0)
      .otherwise(least(absA, absB) / greatest(absA, absB))
  }

  /** PercentageSimilarity(th): 1 - relDev if relDev < th else 0. */
  def percentageSimCol(a: Column, b: Column, threshold: Double = 0.05): Column = {
    val m = greatest(abs(a), abs(b))
    val rel = abs(a - b) / m
    when(m === 0, when(a === b, 1.0).otherwise(0.0))
      .otherwise(when(rel < threshold, lit(1.0) - rel).otherwise(0.0))
  }

  // ---- Weighted date similarity (day=1, month=3, year=5) -----------------
  /**
   * Weighted average of per-component normalised distances; the year
   * distance is normalised by the web column's (max-min) year range
   * (reference MatchableTableRowDateComparator.java:68-71), floored at 1.
   * Over date/timestamp columns and the column's `yearRange` column.
   */
  def weightedDateSimCol(a: Column, b: Column, yearRange: Column,
                         wDay: Double = 1.0, wMonth: Double = 3.0, wYear: Double = 5.0): Column = {
    val yr = greatest(yearRange, lit(1.0))
    val dy = least(abs(year(a) - year(b)).cast("double") / yr, lit(1.0))
    val dm = least(abs(month(a) - month(b)).cast("double") / 12.0, lit(1.0))
    val dd = least(abs(dayofmonth(a) - dayofmonth(b)).cast("double") / 31.0, lit(1.0))
    lit(1.0) - (lit(wDay) * dd + lit(wMonth) * dm + lit(wYear) * dy) / (wDay + wMonth + wYear)
  }
}
