package graft.fixtures

import graft.SparkSpec
import graft.checkpoint.{ParquetCheckpointer, RecordingCheckpointer}
import graft.eval.Evaluator
import graft.kb.KbIngest
import graft.pipeline.T2KPipeline
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Quality + resumability gates on the seeded scale corpus: the pipeline
  * must reach P/R >= 0.95 on construction-truth gold standards
  * (BASELINE.json target), and a resumed run must reproduce identical
  * triples from the checkpoint without recomputation. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  val cfg = ScaleGen.Config(nClasses = 8, nEntities = 2000, nTables = 40,
    rowsPerTable = 25, vocab = 60000)
  lazy val corpus = ScaleGen.webCorpus(spark, cfg)
  lazy val kb = KbIngest.fromLongForm(spark,
    ScaleGen.kbLongForm(spark, cfg), ScaleGen.hierarchy(cfg))
  lazy val sf = ScaleGen.surfaceForms(spark, cfg)
  lazy val result = T2KPipeline.run(corpus._1, kb, sf,
    ScaleGen.hierarchy(cfg).toMap)

  test("scale corpus: instance P/R >= 0.95") {
    val prf = Evaluator.evaluate(
      result.instanceCorrs.select("tableName", "rowNum", "uri"),
      corpus._2, Seq("tableName", "rowNum", "uri"))
    assert(prf.precision >= 0.95 && prf.recall >= 0.95, s"instance: $prf")
  }

  test("scale corpus: schema P/R >= 0.95") {
    val predicted = result.schemaCorrs
      .join(kb.props.select($"propId", $"propUri"), "propId")
      .select("tableName", "colIdx", "propUri")
    val prf = Evaluator.evaluate(predicted, corpus._3,
      Seq("tableName", "colIdx", "propUri"))
    assert(prf.precision >= 0.95 && prf.recall >= 0.95, s"schema: $prf")
  }

  test("scale corpus: class assignment P/R >= 0.95") {
    val prf = Evaluator.evaluate(
      result.classCorrs.select("tableName", "className"),
      corpus._4, Seq("tableName", "className"))
    assert(prf.precision >= 0.95 && prf.recall >= 0.95, s"class: $prf")
  }

  test("generator knobs: hotToken plants the head token, tableNamePad pads names") {
    val hot = cfg.copy(nEntities = 1000, hotToken = 10)
    val e = ScaleGen.entities(spark, hot)
    val nHot = e.filter(col("label").endsWith(" hotshared")).count()
    assert(nHot === e.filter(pmod(col("entityId"), lit(10)) === 0).count())
    assert(nHot >= 90 && nHot <= 110) // every 10th of ~1000 (Zipf rounding)
    // default config: no hotshared anywhere (existing corpora unchanged)
    assert(ScaleGen.entities(spark, cfg.copy(nEntities = 1000))
      .filter(col("label").contains("hotshared")).count() === 0)

    val padded = cfg.copy(nTables = 20, rowsPerTable = 5, tableNamePad = 28)
    val names = ScaleGen.webCorpus(spark, padded)._1
      .select(org.apache.spark.sql.functions.substring_index(
        col("doc_id"), "#", 1).as("t")).distinct()
      .collect().map(_.getString(0))
    assert(names.length === 20) // padding is per-table deterministic + distinct
    assert(names.forall(n => n.length >= 28 + 8 && n.endsWith(".csv")), names.take(3).toSeq)
    // default: short names
    assert(ScaleGen.webCorpus(spark, cfg.copy(nTables = 3, rowsPerTable = 2))._1
      .select(org.apache.spark.sql.functions.substring_index(col("doc_id"), "#", 1))
      .distinct().collect().forall(_.getString(0).length < 15))
  }

  test("parquet checkpointer: resume reproduces identical triples with manifest") {
    val dir = Files.createTempDirectory("graft_ckpt").toString
    val small = cfg.copy(nTables = 10, rowsPerTable = 10, nEntities = 500)
    val docs = ScaleGen.webCorpus(spark, small)._1
    val kb2 = KbIngest.fromLongForm(spark,
      ScaleGen.kbLongForm(spark, small), ScaleGen.hierarchy(small))
    val sf2 = ScaleGen.surfaceForms(spark, small)
    val r1 = T2KPipeline.run(docs, kb2, sf2, ScaleGen.hierarchy(small).toMap,
      ckpt = new ParquetCheckpointer(spark, dir))
    val t1 = r1.triples.collect().map(_.toString).sorted
    // manifest carries per-partition lineage
    val manifest = Files.readString(Paths.get(dir, "manifest.jsonl"))
    assert(manifest.contains("perPartitionRows"))
    // the checkpointer does not choose the stages: the manifest lists,
    // in order, the stages a LocalCheckpointer run materialises
    val recording = new RecordingCheckpointer
    T2KPipeline.run(docs, kb2, sf2, ScaleGen.hierarchy(small).toMap,
      ckpt = recording).release()
    val manifestStages = "\"stage\":\"([^\"]+)\"".r
      .findAllMatchIn(manifest).map(_.group(1)).toSeq
    assert(manifestStages === recording.stages)
    // the dims are stages too, so the resume below reuses them
    Seq("web_cols", "kb_props_by_class", "classes_decided", "schema_dup_seed",
      "classes_best", "classes_with_ancestors", "schema_pairs",
      "instance_top1", "schema_top1").foreach { s =>
      assert(manifest.contains("\"stage\":\"" + s + "\""), s"missing stage $s")
    }
    // resume: a fresh checkpointer over the same dir must reuse stages
    val r2 = T2KPipeline.run(docs, kb2, sf2, ScaleGen.hierarchy(small).toMap,
      ckpt = new ParquetCheckpointer(spark, dir))
    val t2 = r2.triples.collect().map(_.toString).sorted
    assert(t1.sameElements(t2))
    // resumed run appended no new manifest entries (all stages reused)
    assert(Files.readString(Paths.get(dir, "manifest.jsonl")) === manifest)
  }
}
