package graft.util

import graft.model.Dtype
import graft.text.{Normalize, Similarity}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, udf, when}

/**
 * The small UDF surface (SURVEY.md §2.13) and the evaluate-once rule for
 * per-row similarity operands.
 *
 * Kernels: the greedy token matching of GSJ can't be expressed as array
 * builtins, and normalisation ([[Normalize.normaliseCol]]) is one kernel
 * call instead of a regexp chain. Numeric and date sims stay builtin
 * Column expressions.
 *
 * Evaluate-once: every operand a similarity expression reads more than
 * once (normalised string, parsed double, parsed date) is projected ONCE
 * per row by [[withTypedOperands]] and read back as a plain column. An
 * operand inlined as a Column tree is copied into every read: the typed
 * dispatches compiled to generated methods of up to 65 KB, far over
 * HotSpot's 8,000-byte bytecode limit for JIT compilation
 * (`DontCompileHugeMethods`), so they ran interpreted on every row.
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
    * runs on genuinely fuzzy pairs (codegen evaluates `when` lazily).
    * Reads each side three times: pass projected operands. */
  def gsjFast(a: Column, b: Column): Column =
    when(a.isNotNull && a === b, lit(1.0)).otherwise(gsj(a, b))

  /**
   * Adds, for each column `c` of `cols`, its typed similarity operands
   * `<c>Num` ([[SafeCast.toDouble]]), `<c>Date` ([[SafeCast.toDateSafe]])
   * and `<c>Norm` ([[Normalize.normaliseCol]]), each computed once per
   * row. The caller's similarity CaseWhen must test `skip` first (its
   * null-result branch), then `dtype` numeric, then date, with the string
   * sim as the otherwise; each operand is gated on exactly that branch, so
   * no row parses more than the lazily evaluated branch would, and a null
   * dtype reaches the string operand like it reaches the otherwise.
   * Catalyst's CollapseProject never inlines a non-cheap alias that the
   * next projection reads more than once, so the operands stay one
   * evaluation each.
   */
  def withTypedOperands(df: DataFrame, dtype: Column, skip: Column,
                        cols: String*): DataFrame = {
    val isNum = dtype === Dtype.Numeric
    val isDate = dtype === Dtype.Date
    val gate = when(skip, lit(null))
    df.select(col("*") +: cols.flatMap { c =>
      Seq(gate.when(isNum, SafeCast.toDouble(col(c))).as(s"${c}Num"),
        gate.when(isDate, SafeCast.toDateSafe(col(c))).as(s"${c}Date"),
        gate.when(isNum || isDate, lit(null))
          .otherwise(Normalize.normaliseCol(col(c))).as(s"${c}Norm"))
    }: _*)
  }
}
