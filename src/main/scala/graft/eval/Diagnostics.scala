package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Candidate/triple diagnostics (SURVEY.md §2.4 A9-A10; reference
 * T2KMatch.java:1156-1240 candidate statistics, TripleGenerator
 * counters). Pure aggregations intended for logging/metrics sinks.
 */
object Diagnostics {

  /** Candidates per table + class distribution per table. */
  def candidateStats(candidates: DataFrame): DataFrame =
    candidates.groupBy(col("tableName"))
      .agg(count(lit(1)).as("nCandidates"),
        countDistinct(col("rowNum")).as("nMappedRows"),
        countDistinct(col("classId")).as("nClasses"),
        round(avg(col("score")), 4).as("avgScore"))
}
