package graft.util

import graft.text.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, udf, when}

/**
 * The small UDF surface (SURVEY.md §2.13). Only similarity kernels whose
 * greedy token matching can't be expressed as array builtins are UDFs;
 * everything else (normalise, tokenise, jaccard, levenshtein, numeric and
 * date sims) stays in codegen'd Column expressions.
 */
object Udfs {
  /** GeneralisedStringJaccard(Levenshtein, 0.5, 0.5) — reference config at
    * SchemaLabelComparator.java:32-40 / IdentityResolution.java:73. */
  val gsj = udf((a: String, b: String) =>
    Similarity.generalisedStringJaccard(a, b, 0.5, 0.5))

  /** GSJ(Levenshtein, 0.2, 0.2) — the similarity-flooding value matchers'
    * config (ValueTypeComparatorWB2KB.java:41). */
  val gsj02 = udf((a: String, b: String) =>
    Similarity.generalisedStringJaccard(a, b, 0.2, 0.2))

  /** Equality fast path: most true matches are exact after normalisation,
    * so skip the O(tokens² × len²) greedy kernel for them — the UDF only
    * runs on genuinely fuzzy pairs (codegen evaluates `when` lazily). */
  def gsjFast(a: Column, b: Column): Column =
    when(a.isNotNull && a === b, lit(1.0)).otherwise(gsj(a, b))
}
