package graft.pipeline

import graft.SparkSpec
import graft.checkpoint.LocalCheckpointer
import graft.fixtures.ScaleGen
import graft.kb.{CandidateIndex, KbIngest}
import graft.model.SpanCodec
import graft.onetoone.SFMatchers
import graft.triples.Triples
import org.apache.spark.sql.DataFrame

/** Generated-code guard: every whole-stage-codegen subtree of the
  * similarity-heavy stages compiles to methods HotSpot will JIT.
  * `DontCompileHugeMethods` leaves any method over 8,000 bytes of
  * bytecode in the interpreter for every row it processes; similarity
  * operands copied into each other as Column trees produced 25–65 KB
  * methods in four of these stages. */
class CodegenSizeSpec extends SparkSpec {
  private val HugeMethodLimit = 8000

  private val cfg = ScaleGen.Config(nClasses = 4, nEntities = 300, nTables = 6,
    rowsPerTable = 8, hotToken = 10, tableNamePad = 28)

  private lazy val stages: Map[String, DataFrame] = {
    val docs = ScaleGen.webCorpus(spark, cfg)._1
    val kb = KbIngest.fromLongForm(spark,
      ScaleGen.kbLongForm(spark, cfg), ScaleGen.hierarchy(cfg))
    val sf = ScaleGen.surfaceForms(spark, cfg)
    val result = T2KPipeline.run(docs, kb, sf, ScaleGen.hierarchy(cfg).toMap)
    val cells = SpanCodec.cells(docs)
    val webCols = SpanCodec.columns(docs)
    val keyCols = Keys.detect(webCols)
    val pairs = Schema.blockPairs(webCols, result.classCorrs, kb.propsByClass)
    val kbValues = KbIngest.values(kb.cells, sf)
    val (_, tokens, variants) = T2KPipeline.index(kb, sf, LocalCheckpointer)
    val selection = Candidates.generate(cells, keyCols, tokens, 50, 0.2)
    val dup = Schema.duplicateBased(result.instanceCorrs, cells, kbValues, pairs, 0.02)
    val label = Schema.labelBased(pairs, webCols, kb.props)
    val classes = result.classCorrs.select("tableName", "classId")
    Map(
      "KbIngest.fromLongForm" -> kb.cells,
      "SpanCodec.columns" -> webCols,
      "Schema.blockPairs" -> pairs,
      "KbIngest.values" -> kbValues,
      "CandidateIndex.build" -> CandidateIndex.build(kbValues),
      "Candidates.keyTokens" -> Candidates.keyTokens(cells, keyCols),
      "Candidates.generate" -> selection,
      "Classes.decide" -> Classes.decide(selection, kb.classes),
      "Candidates.refineFromSelection" -> Candidates.refineFromSelection(
        selection, result.classCorrs, cells, keyCols, tokens, variants, 100, 0.7),
      "Classes.refine" -> Classes.refine(result.schemaCorrs,
        kb.propsByClass.select("classId", "propId").distinct(),
        result.classCorrs.withColumnRenamed("score", "classScore")),
      "Schema.duplicateBased" -> dup,
      "Schema.labelBased" -> label,
      "Schema.combine" -> Schema.combine(dup, label, Keys.keyCorrs(keyCols)),
      "Identity.resolve" -> Identity.resolve(result.instanceCorrs,
        result.schemaCorrs, keyCols, cells, kbValues, webCols),
      "Triples.generate" -> Triples.generate(result.instanceCorrs,
        result.schemaCorrs, cells, kbValues, kb.props, webCols),
      "SFMatchers.valueSeeds" -> SFMatchers.valueSeeds(result.instanceCorrs,
        cells, kbValues, webCols, typed = true),
      "SFMatchers.labelSeeds" -> SFMatchers.labelSeeds(webCols, kb.props,
        kb.propsByClass, classes),
      "SFMatchers.pipelineMatrixSeeds" -> SFMatchers.pipelineMatrixSeeds(
        result.schemaCorrs, webCols, kb.propsByClass, classes))
  }

  for (name <- Seq("KbIngest.fromLongForm", "SpanCodec.columns", "KbIngest.values",
      "CandidateIndex.build", "Candidates.keyTokens", "Candidates.generate",
      "Classes.decide", "Candidates.refineFromSelection", "Schema.blockPairs",
      "Classes.refine", "Schema.duplicateBased", "Schema.labelBased",
      "Schema.combine", "Identity.resolve", "Triples.generate",
      "SFMatchers.valueSeeds", "SFMatchers.labelSeeds",
      "SFMatchers.pipelineMatrixSeeds"))
    test(s"$name: every generated method stays under the JIT limit") {
      val df = stages(name)
      assert(df.collect().nonEmpty, s"$name produced no rows") // final AQE plan
      val subtrees = df.queryExecution.debug.codegenToSeq()
      assert(subtrees.nonEmpty, s"$name has no whole-stage-codegen subtree")
      val (plan, _, stats) = subtrees.maxBy(_._3.maxMethodCodeSize)
      assert(stats.maxMethodCodeSize <= HugeMethodLimit,
        s"$name: largest generated method ${stats.maxMethodCodeSize} B > " +
          s"$HugeMethodLimit B, in subtree\n${plan.linesIterator.take(12).mkString("\n")}")
    }
}
