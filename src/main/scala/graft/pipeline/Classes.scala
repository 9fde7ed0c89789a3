package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Class decision / refinement / candidate filtering (SURVEY.md §2.4 A1-A4;
 * reference /root/reference .../t2k/match/components/ClassDecision.java:50-152,
 * ClassRefinement.java:65-208, CandidateFiltering.java:50-78).
 */
object Classes {

  private val Consensus = 0.5   // ClassDecision.java:104-127
  private val FallbackTopK = 5

  /**
   * A1+A2+A3: boost candidate scores by the class-popularity prior
   * (classWeight, KnowledgeBase.java:341-364), take top-1 per row, build
   * the per-table class distribution, normalise by the max count, keep
   * classes >= `Consensus` of the max — top-`FallbackTopK` fallback when
   * none survive (ClassDecision.java:104-127).
   * Returns classesPerTable(tableName, classId, classScore).
   */
  def decide(candidates: DataFrame, kbClasses: DataFrame): DataFrame = {
    val boosted = candidates
      .join(broadcast(kbClasses.select("classId", "classWeight")), "classId")
      .withColumn("boosted", col("score") + col("classWeight"))
    val top1 = boosted.withColumn("rk", row_number().over(
        Window.partitionBy(col("tableName"), col("rowNum"))
          .orderBy(col("boosted").desc, col("uri").asc)))
      .filter(col("rk") === 1)
    val dist = top1.groupBy(col("tableName"), col("classId"))
      .agg(count(lit(1)).as("cnt"))
    val wTab = Window.partitionBy(col("tableName"))
    val normed = dist
      .withColumn("maxCnt", max(col("cnt")).over(wTab))
      .withColumn("classScore", col("cnt").cast("double") / col("maxCnt"))
      .withColumn("rk", row_number().over(
        wTab.orderBy(col("cnt").desc, col("classId").asc)))
      .withColumn("nKeep", sum(when(col("classScore") >= Consensus, 1).otherwise(0)).over(wTab))
    normed.filter(col("classScore") >= Consensus ||
        (col("nKeep") === 0 && col("rk") <= FallbackTopK))
      .select(col("tableName"), col("classId"), col("classScore"))
  }

  /**
   * A4 class refinement: sum schema-corr scores per (table, class owning
   * the matched property), argmax class per table, then close over
   * superclasses (driver-side hierarchy, tiny).
   * `propClasses` = distinct (classId, propId) ownership pairs.
   * `decisionClasses` (tableName, classId) restricts scoring to the
   * table's OWN decision classes — the reference iterates only
   * classesPerTable.get(tableId) (ClassRefinement.java:82-104); without
   * the guard every class owning rdfs:label ties at the key-corr score
   * and the argmax degenerates to the globally lowest classId.
   */
  def refine(schemaCorrs: DataFrame, propClasses: DataFrame,
             decisionClasses: DataFrame): DataFrame = {
    val perClass = schemaCorrs
      .join(propClasses, "propId")
      .join(decisionClasses.select("tableName", "classId"),
        Seq("tableName", "classId"), "left_semi")
      .groupBy(col("tableName"), col("classId"))
      // exact sum (see Schema.duplicateBased): the argmax below — and the
      // emitted classScore — must not depend on partition merge order
      .agg(sum(col("score").cast("decimal(30,15)")).cast("double")
        .as("classScore"))
    // Ties (common for tables whose only schema corr is the key: every
    // decision class owning rdfs:label sums to 1.0) break on the CLASS
    // DECISION's distribution score — the information-bearing signal —
    // then classId for determinism.
    perClass
      .join(decisionClasses.select(col("tableName"), col("classId"),
        col("classScore").as("decisionScore")), Seq("tableName", "classId"), "left")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("tableName"))
          .orderBy(col("classScore").desc,
            coalesce(col("decisionScore"), lit(0.0)).desc, col("classId").asc)))
      .filter(col("rk") === 1)
      .select(col("tableName"), col("classId"), col("classScore"))
  }

  /** Superclass closure expansion (ClassRefinement.java:194-205): each
    * (table, class) also admits the class's ancestors — used for candidate
    * FILTERING only; the emitted class decision stays the argmax class.
    * Closure built on the driver (<=1k hierarchy edges), broadcast-joined. */
  def withAncestors(classesPerTable: DataFrame, kbClasses: DataFrame,
                    hierarchy: Map[String, String]): DataFrame = {
    val spark = classesPerTable.sparkSession
    import spark.implicits._
    val nameToId = kbClasses.select("className", "classId")
      .as[(String, Int)].collect().toMap
    val closure: Seq[(Int, Int)] = nameToId.toSeq.flatMap { case (name, id) =>
      Iterator.iterate(Option(name))(n => n.flatMap(hierarchy.get))
        .takeWhile(_.isDefined).flatten.take(50)
        .flatMap(nameToId.get).map(a => (id, a)).toSeq
    }
    val closureDf = closure.toDF("classId", "ancestorId")
    classesPerTable.join(broadcast(closureDf), Seq("classId"))
      .select(col("tableName"), col("ancestorId").as("classId"), col("classScore"))
      .distinct()
  }

  /** Candidate filtering: keep candidates whose class is in the table's
    * (refined) class set. No broadcast hint: the class set is O(#tables)
    * — multi-GB at the north-star scale — so AQE picks the strategy. */
  def filterCandidates(candidates: DataFrame, classesPerTable: DataFrame): DataFrame =
    candidates.join(classesPerTable.select("tableName", "classId"),
      Seq("tableName", "classId"), "left_semi")
}
