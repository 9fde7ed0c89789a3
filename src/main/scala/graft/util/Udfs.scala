package graft.util

import graft.text.{Normalize, Similarity}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit, udf, when}

/**
 * The small UDF surface (SURVEY.md §2.13) and the type-once rule for
 * similarity operands.
 *
 * Kernels: the greedy token matching of GSJ can't be expressed as array
 * builtins, and normalisation ([[Normalize.normaliseCol]]) is one kernel
 * call instead of a regexp chain. Numeric and date sims stay builtin
 * Column expressions.
 *
 * Type-once: each value is normalised and parsed ONCE, where it enters —
 * [[operands]] is projected by `SpanCodec.cells` for web cells and by
 * `KbIngest.values` for KB values and their surface forms, as the
 * reference types each value at load (`MatchableTableRow`, SURVEY §1.1).
 * Similarity expressions read the operands back as plain columns. An
 * operand inlined as a Column tree is copied into every read: the typed
 * dispatches compiled to generated methods of up to 65 KB, far over
 * HotSpot's 8,000-byte bytecode limit for JIT compilation
 * (`DontCompileHugeMethods`), so they ran interpreted on every row; and
 * an operand projected after a join is parsed once per joined pair
 * instead of once per value.
 */
object Udfs {
  /** GeneralisedStringJaccard over normalised operands: they are only
    * split, never normalised again. */
  private def gsjOver(inner: Double, jaccard: Double) = udf((a: String, b: String) =>
    Similarity.gsjTokens(Normalize.tokens(a), Normalize.tokens(b), inner, jaccard))

  /** GSJ(Levenshtein, 0.5, 0.5) — reference config at
    * SchemaLabelComparator.java:32-40 / IdentityResolution.java:73. */
  val gsj = gsjOver(0.5, 0.5)

  /** GSJ(Levenshtein, 0.2, 0.2) — the similarity-flooding value matchers'
    * config (ValueTypeComparatorWB2KB.java:41). */
  val gsj02 = gsjOver(0.2, 0.2)

  /** Equality fast path: most true matches are exact after normalisation,
    * so skip the O(tokens² × len²) greedy kernel for them — the UDF only
    * runs on genuinely fuzzy pairs (codegen evaluates `when` lazily).
    * Reads each side three times: pass projected operands. */
  def gsjFast(a: Column, b: Column): Column =
    when(a.isNotNull && a === b, lit(1.0)).otherwise(gsj(a, b))

  /** The similarity operands of column `c`, each a pure function of the
    * value: `<c>Norm` ([[Normalize.normaliseCol]]), `<c>Num`
    * ([[SafeCast.toDouble]]) and `<c>Date` ([[SafeCast.toDateSafe]]).
    * Ungated: a similarity CaseWhen tests its null branch and its dtype
    * before it reads an operand, so it reads only the one its branch
    * compares. */
  def operands(c: String): Seq[Column] = Seq(
    Normalize.normaliseCol(col(c)).as(s"${c}Norm"),
    SafeCast.toDouble(col(c)).as(s"${c}Num"),
    SafeCast.toDateSafe(col(c)).as(s"${c}Date"))
}
