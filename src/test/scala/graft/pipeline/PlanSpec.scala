package graft.pipeline

import graft.SparkSpec
import graft.fixtures.MicroCorpus
import graft.kb.{CandidateIndex, KbIngest}
import graft.model.SpanCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits: the plans we ship are the plans we designed
  * (SURVEY.md §4) — filters reach the parquet scan, dimension joins
  * broadcast, nothing degenerates to a cartesian product, and the hot
  * expression paths stay inside whole-stage codegen. */
class PlanSpec extends SparkSpec {

  private def executedPlan(df: DataFrame): String = {
    df.collect() // finalise AQE
    df.queryExecution.executedPlan.toString
  }

  test("parquet scan: filter + projection pushdown") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_shipdate") < "1996-01-01")
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"no pushed filter:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double"),
      s"projection not pruned:\n$plan")
  }

  test("q_agg stays inside whole-stage codegen") {
    val df = graft.SparkEntry.queries("q_agg")(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(df)
    // "*(n)" node prefixes mark whole-stage-codegen spans in toString
    assert(plan.contains("*("), s"no codegen span:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("candidate generation: class filter is a broadcast join, no cartesian") {
    val docs = MicroCorpus.docs(spark)
    val kb = KbIngest.fromLodTables(spark, MicroCorpus.lodTables, MicroCorpus.classHierarchy)
    val cells = SpanCodec.cells(docs)
    val keyCols = Keys.detect(SpanCodec.columns(docs))
    val index = CandidateIndex.build(
      KbIngest.values(kb.cells, MicroCorpus.surfaceFormsDf(spark)))
    import spark.implicits._
    val classes = Seq(("webtable1.csv", 0), ("webtable2.csv", 1))
      .toDF("tableName", "classId")
    val selection = Candidates.generate(cells, keyCols, index, 50, 0.2)
    val cands = Candidates.refineFromSelection(selection, classes, cells, keyCols,
      index, Candidates.variantIndex(index), 50, 0.2)
    val plan = executedPlan(cands)
    assert(plan.contains("BroadcastHashJoin"), s"class filter not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in candidate gen:\n$plan")
  }

  test("hot candidate aggregations/windows key on tableId, not the name string") {
    val docs = MicroCorpus.docs(spark)
    val kb = KbIngest.fromLodTables(spark, MicroCorpus.lodTables, MicroCorpus.classHierarchy)
    val cells = SpanCodec.cells(docs)
    val keyCols = Keys.detect(SpanCodec.columns(docs))
    val index = CandidateIndex.build(
      KbIngest.values(kb.cells, MicroCorpus.surfaceFormsDf(spark)))
    val cands = Candidates.generate(cells, keyCols, index, 50, 0.2)
    val plan = executedPlan(cands)
    // the HOT candidate aggregations (per-name/per-uri — the only ones
    // carrying nNameTok) and the per-row top-N windows (the only ones
    // partitioned on rowNum) must key on the 8-byte tableId. String-keyed
    // METADATA aggregations (per-column stats, key detection, the
    // tableDim distinct itself) are fine — they are O(#tables) rows.
    val offending = plan.linesIterator.filter { l =>
      val hotAgg = l.contains("HashAggregate(keys=") &&
        (l.contains("nNameTok") || l.contains("rowNum"))
      val hotWin = l.contains("windowspecdefinition(") && l.contains("rowNum")
      (hotAgg || hotWin) && l.contains("tableName")
    }.toList
    assert(offending.isEmpty, s"string key in hot path:\n${offending.mkString("\n")}")
    assert(plan.contains("tableId"), s"no tableId in plan:\n$plan")
  }

  test("full pipeline plans contain no cartesian products") {
    val docs = MicroCorpus.docs(spark)
    val kb = KbIngest.fromLodTables(spark, MicroCorpus.lodTables, MicroCorpus.classHierarchy)
    val result = T2KPipeline.run(docs, kb, MicroCorpus.surfaceFormsDf(spark),
      MicroCorpus.classHierarchy.toMap)
    val plan = executedPlan(result.triples)
    assert(!plan.contains("CartesianProduct"), s"cartesian in triples plan:\n$plan")
  }
}
