package graft.pipeline

import graft.SparkSpec
import graft.checkpoint.RecordingCheckpointer
import graft.eval.Evaluator
import graft.fixtures.MicroCorpus
import graft.kb.{CandidateIndex, KbIngest}
import graft.model.{Doc, Span, SpanCodec}
import graft.util.Udfs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end golden tests on the micro corpus (reference semantics from
  * src/test/resources fixtures; expected mappings per FIXTURES.md §3). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = MicroCorpus.docs(spark).cache()
  lazy val kb = KbIngest.fromLodTables(spark, MicroCorpus.lodTables, MicroCorpus.classHierarchy)
  lazy val sf = MicroCorpus.surfaceFormsDf(spark)
  lazy val hierarchy = MicroCorpus.classHierarchy.toMap
  lazy val result: T2KResult = T2KPipeline.run(docs, kb, sf, hierarchy)

  /** Runs the pipeline on `in` through a checkpointer that records every
    * stage name, in order. */
  private def recordedRun(in: DataFrame, cfg: T2KConfig): (Seq[String], T2KResult) = {
    val recording = new RecordingCheckpointer
    val r = T2KPipeline.run(in, kb, sf, hierarchy, cfg, recording)
    (recording.stages.toSeq, r)
  }

  test("key detection finds reference key columns (Col0 / Col1)") {
    val keys = Keys.detect(SpanCodec.columns(docs)).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(keys("webtable1.csv") === 0) // WebTablesTest.java:33-34
    assert(keys("webtable2.csv") === 1)
  }

  test("candidate generation resolves surface forms and redirects") {
    val cells = SpanCodec.cells(docs)
    val keyCols = Keys.detect(SpanCodec.columns(docs))
    val index = CandidateIndex.build(KbIngest.values(kb.cells, sf))
    val cands = Candidates.generate(cells, keyCols, index, 50, 0.2)
    val best = cands.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"tableName", $"rowNum").orderBy($"score".desc, $"uri")))
      .filter($"rk" === 1)
      .select($"tableName", $"rowNum", $"uri").as[(String, Int, String)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    // surface form: "yesterday" -> Gestern; redirect: "go away" -> Day_Go
    assert(best(("webtable1.csv", 1)) === "http://dbpedia.org/resource/Gestern")
    assert(best(("webtable1.csv", 0)) === "http://dbpedia.org/resource/Day_Go")
    assert(best(("webtable2.csv", 0)) === "http://dbpedia.org/resource/University_Of_Mannheim")
  }

  test("fuzzy lookup (edit distance 1) links a typo'd key cell") {
    val cells = Seq(("webtableX.csv", 0, 0, "text", "uni mannheem", null: String))
      .toDF("tableName", "rowNum", "colIdx", "kind", "text", "mediaRef")
      .select(col("*") +: Udfs.operands("text"): _*)
    val keyCols = Seq(("webtableX.csv", 0)).toDF("tableName", "colIdx")
    val index = CandidateIndex.build(KbIngest.values(kb.cells, sf))
    // exact-token selection (th 0.7) loses the typo'd key...
    val exact = Candidates.generate(cells, keyCols, index, 50, 0.7)
    assert(exact.count() === 0)
    // ...the refinement's deletion-1 neighborhood join still links it
    // (class dim: every index class, so nothing is filtered out)
    val classes = index.select(lit("webtableX.csv").as("tableName"), $"classId").distinct()
    val fuzzy = Candidates.refineFromSelection(exact, classes, cells, keyCols,
      index, Candidates.variantIndex(index), 50, 0.7)
    val best = fuzzy.orderBy($"score".desc, $"uri").select("uri", "score")
      .as[(String, Double)].collect()
    assert(best.nonEmpty &&
      best.head._1 === "http://dbpedia.org/resource/University_Of_Mannheim")
    assert(best.head._2 === 0.999)
  }

  test("release() leaves the CacheManager empty after KB ingest and a full run") {
    // every barrier goes through Materialize: on a local master nothing
    // reaches the CacheManager, and release() frees whatever a run left
    spark.catalog.clearCache()
    val freshKb = KbIngest.fromLodTables(spark, MicroCorpus.lodTables,
      MicroCorpus.classHierarchy)
    val r = T2KPipeline.run(MicroCorpus.docs(spark), freshKb,
      MicroCorpus.surfaceFormsDf(spark), hierarchy)
    Seq(r.instanceCorrs, r.schemaCorrs, r.classCorrs, r.triples, r.schemaCombined)
      .foreach(df => assert(df.collect().nonEmpty))
    r.release()
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(r.classCorrs.count() > 0) // the result frames survive release()
  }

  test("every pipeline barrier is a named checkpoint stage, in run order") {
    val (stages, r) = recordedRun(docs, T2KConfig())
    r.release()
    // single-consumer frames (the final instance_cands, the triples) are
    // not stages
    assert(stages === Seq("cells", "web_cols", "kb_cells",
      "candidate_tokens", "candidate_variants", "kb_props_by_class",
      "candidates_selected", "classes_decided", "candidates_refined",
      "schema_dup_seed", "classes_best", "classes_with_ancestors",
      "candidates_filtered", "schema_pairs", "schema_corrs_it0",
      "instance_top1", "schema_top1"))
  }

  test("numIterations = 2 runs the schema/identity loop twice") {
    val (stages, r) = recordedRun(docs, T2KConfig(numIterations = 2))
    // the last iteration's instance_cands is not a stage
    assert(stages.filter(_.matches("(schema_corrs|instance_cands)_it\\d+")) ===
      Seq("schema_corrs_it0", "instance_cands_it0", "schema_corrs_it1"))
    Seq(r.instanceCorrs, r.schemaCorrs, r.classCorrs, r.triples)
      .foreach(df => assert(df.collect().nonEmpty))
    r.release()
  }

  test("mappedRatio keeps exactly the tables whose mapped-row share reaches it") {
    // two rows no KB entity matches: 5 of webtable1's 7 rows can map
    val unmatched = Seq(
      Doc("webtable1.csv#r5", Seq("qqxv zzyw", "9911", "nobody known", "1950")
        .zipWithIndex.map { case (v, i) => Span("text", v, null, i) }),
      Doc("webtable1.csv#r6", Seq("wwpk jjvb", "9912", "someone else", "1951")
        .zipWithIndex.map { case (v, i) => Span("text", v, null, i) }))
    val in = docs.unionByName(unmatched.toDF())
    val nRows = SpanCodec.cells(in).select("tableName", "rowNum").distinct()
      .groupBy("tableName").count().as[(String, Long)].collect().toMap
    def shares(r: T2KResult): Map[String, Double] =
      r.instanceCorrs.groupBy("tableName").count().as[(String, Long)].collect()
        .map { case (t, n) => t -> n.toDouble / nRows(t) }.toMap
    val unfiltered = T2KPipeline.run(in, kb, sf, hierarchy)
    val all = shares(unfiltered)
    unfiltered.release()
    val ratio = 0.85
    assert(all.values.exists(_ >= ratio) && all.values.exists(_ < ratio),
      s"shares $all do not straddle $ratio")

    val r = T2KPipeline.run(in, kb, sf, hierarchy, T2KConfig(mappedRatio = ratio))
    val kept = shares(r)
    assert(kept.nonEmpty && kept.values.forall(_ >= ratio), s"kept $kept")
    assert((all.keySet -- kept.keySet).forall(all(_) < ratio), s"all $all, kept $kept")
    assert(kept === all.filter(_._2 >= ratio))
    assert(r.schemaCorrs.select("tableName").distinct().as[String].collect().toSet ===
      kept.keySet)
    r.release()
  }

  test("Schema.update averages the previous and current scores per correspondence") {
    val cols = Seq("tableName", "colIdx", "propId", "score")
    val prev = Seq(("t", 0, 1, 0.4), ("t", 1, 2, 0.6)).toDF(cols: _*)
    val cur = Seq(("t", 0, 1, 0.8), ("t", 2, 3, 1.0)).toDF(cols: _*)
    val got = Schema.update(prev, cur).as[(String, Int, Int, Double)].collect()
      .map { case (t, c, p, s) => (t, c, p) -> s }.toMap
    // both sides: 0.5·0.4 + 0.5·0.8; one side: half its score
    assert(got === Map(("t", 0, 1) -> 0.6, ("t", 1, 2) -> 0.3, ("t", 2, 3) -> 0.5))
  }

  test("class decision assigns the right KB class per table") {
    val gold = MicroCorpus.gsClass.toDF("tableName", "className")
    val prf = Evaluator.evaluate(
      result.classCorrs.select("tableName", "className"), gold,
      Seq("tableName", "className"))
    assert(prf.precision === 1.0 && prf.recall === 1.0, s"class: $prf")
  }

  test("instance correspondences: P/R = 1.0 on micro gold standard") {
    val gold = MicroCorpus.gsInstance.toDF("tableName", "rowNum", "uri")
    val prf = Evaluator.evaluate(
      result.instanceCorrs.select("tableName", "rowNum", "uri"), gold,
      Seq("tableName", "rowNum", "uri"))
    assert(prf.precision === 1.0 && prf.recall === 1.0, s"instance: $prf")
  }

  test("schema correspondences: P/R = 1.0 on micro gold standard") {
    val gold = MicroCorpus.gsProperty.toDF("tableName", "colIdx", "propUri")
    val predicted = result.schemaCorrs
      .join(kb.props.select($"propId", $"propUri"), "propId")
      .select("tableName", "colIdx", "propUri")
    val prf = Evaluator.evaluate(predicted, gold, Seq("tableName", "colIdx", "propUri"))
    assert(prf.precision === 1.0 && prf.recall === 1.0, s"schema: $prf")
  }

  test("triples are emitted with LCWA flags and provenance") {
    val t = result.triples.cache()
    // non-key columns only: author (webtable1) + year (webtable2), 5 rows each
    assert(t.count() === 10)
    val known = t.filter(!$"isNew").count()
    assert(known === 10)
    // the micro corpus embeds ONE contradicting fact: web says Day_Go's
    // author is "clara west", the KB says "Steve Buckner" — LCWA must flag
    // exactly that triple as incorrect.
    assert(t.filter($"lcwaCorrect" && !$"isNew").count() === 9)
    val wrong = t.filter(!$"lcwaCorrect").collect()
    assert(wrong.length === 1 &&
      wrong.head.getAs[String]("subjectUri").endsWith("Day_Go"))
    // media cells never produce triples
    assert(t.filter($"objectValue".isNull).count() === 0)
  }

  test("determinism: two runs emit identical triple sets") {
    val r2 = T2KPipeline.run(docs, kb, sf, hierarchy)
    val cols = Seq("subjectUri", "predicateUri", "objectValue", "sourceTable", "sourceRow", "sourceCol")
    val a = result.triples.select(cols.map(col): _*)
    val b = r2.triples.select(cols.map(col): _*)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }
}
