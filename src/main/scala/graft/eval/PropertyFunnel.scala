package graft.eval

import graft.kb.Loaders
import graft.model.SpanCodec
import graft.pipeline.{Classes, Schema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Property-level loss funnel (the schema-matching counterpart of
 * T2dDiag's instance funnel): where along
 *   gold row -> class decision owns the property -> dtype equality ->
 *   kurtosis gate -> duplicate vote -> 0.4 vote threshold ->
 *   0.03 combine -> top-1
 * do gold property correspondences (gs_property.csv) get lost?
 *
 * Reads the intermediates a T2KMain run leaves behind, so the funnel
 * costs one light job per stage instead of a pipeline re-run:
 *
 *   runMain graft.eval.PropertyFunnel --web <dir> --kb <dir>
 *     --ontology <tsv> --gs-property <csv>
 *     --classes <out/class_decision parquet>
 *     --refined <ckpt/candidates_refined parquet>
 *     [--schema-corrs <ckpt/schema_corrs_it0 parquet>]
 *     [--final <out/schema_correspondences parquet>]
 */
object PropertyFunnel {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = graft.Sessions(sys.env.getOrElse("SPARK_MASTER", "local[32]"), 32)

    val docs = Loaders.loadWebTablesDir(spark, opts("web")).cache()
    val hierarchy = opts.get("ontology")
      .map(Loaders.loadClassHierarchy(spark, _)).getOrElse(Nil)
    val kb = Loaders.loadLodCsvDir(spark, opts("kb"), hierarchy)
    val sf = Loaders.loadSurfaceForms(spark, opts.get("sf"), opts.get("redirect"))
    val cells = SpanCodec.cells(docs).cache()
    val webCols = SpanCodec.columns(docs).cache()
    val loaded = docs
      .select(substring_index(col("doc_id"), "#", 1).as("tableName")).distinct()

    // gold rows, pruned to loaded tables (reference T2KMatch.java:265-273),
    // label corrs excluded (they are key corrs, not voted)
    val gold0 = Loaders.loadGoldStandard(spark, opts("gs-property"))
      .filter(col("isPositive"))
      .select(split(col("leftId"), "~Col").getItem(0).as("tableName"),
        split(col("leftId"), "~Col").getItem(1).cast("int").as("colIdx"),
        col("rightId").as("propUri"))
      .join(loaded, Seq("tableName"), "left_semi")
      .cache()
    val gLabel = gold0.filter(col("propUri").endsWith("rdf-schema#label"))
    val gold = gold0.filter(!col("propUri").endsWith("rdf-schema#label"))

    def n(df: DataFrame): Long = df.count()
    val nGold = n(gold)
    println(s"FUNNEL gold property rows (pruned, non-label): $nGold " +
      s"(+ ${n(gLabel)} label/key rows)")

    // F0: property URI exists in the KB sample at all
    val goldK = gold.join(kb.props.select(col("propUri"), col("propId"),
      col("dtype").as("kbDtype")), Seq("propUri")).cache()
    println(f"FUNNEL prop-in-KB: ${n(goldK)} / $nGold = ${n(goldK).toDouble / nGold}%.4f")

    // F1: the table's (ancestor-closed) decision classes own the property
    val classesBest = spark.read.parquet(opts("classes"))
      .select(col("tableName"), col("classId"),
        col("score").as("classScore"))
    val classesAnc = Classes.withAncestors(classesBest, kb.classes,
      hierarchy.toMap).cache()
    val propClasses = kb.propsByClass.select("classId", "propId").distinct()
    val owned = goldK.join(
      classesAnc.join(propClasses, "classId").select("tableName", "propId").distinct(),
      Seq("tableName", "propId"), "left_semi").cache()
    println(f"FUNNEL class-owns-prop: ${n(owned)} / $nGold = ${n(owned).toDouble / nGold}%.4f")

    // decompose the ownership loss: would the GOLD class (gs_class) own the
    // property? yes -> our class decision is wrong; no -> ownership itself
    // (or the hierarchy closure) is too narrow
    opts.get("gs-class").foreach { p =>
      val goldClass = Loaders.loadGoldStandard(spark, p).filter(col("isPositive"))
        .select(col("leftId").as("tableName"),
          udf(Loaders.uriLocalName _).apply(col("rightId")).as("className"))
        .join(kb.classes.select("classId", "className"), "className")
        .select("tableName", "classId")
      val lost = goldK.join(
        classesAnc.join(propClasses, "classId").select("tableName", "propId").distinct(),
        Seq("tableName", "propId"), "left_anti")
      val goldClassAnc = Classes.withAncestors(
        goldClass.withColumn("classScore", lit(1.0)), kb.classes, hierarchy.toMap)
      val wouldOwn = lost.join(
        goldClassAnc.join(propClasses, "classId").select("tableName", "propId").distinct(),
        Seq("tableName", "propId"), "left_semi")
      println(f"FUNNEL   ownership loss ${n(lost)}: gold class would own ${n(wouldOwn)} " +
        s"(wrong class decision); ${n(lost) - n(wouldOwn)} not owned even by the gold class")
      lost.join(classesBest.select("tableName", "classId"), Seq("tableName"), "left")
        .join(goldClass.withColumnRenamed("classId", "goldClassId"),
          Seq("tableName"), "left")
        .select("tableName", "colIdx", "propUri", "classId", "goldClassId")
        .limit(50).collect().foreach(r => println(s"FUNNEL     lost-ownership $r"))
      // and: is the decision class at least RELATED (gold class itself decided)?
      val tablesWrong = lost.select("tableName").distinct()
        .join(classesBest.join(goldClass.withColumnRenamed("classId", "goldClassId"),
          "tableName").filter(col("classId") === col("goldClassId"))
          .select("tableName"), Seq("tableName"), "left_anti")
      println(s"FUNNEL   tables with ownership loss whose decided class != gold class: ${n(tablesWrong)}")
    }

    // F2: dtype equality (web column type == KB property type)
    val typed = owned.join(webCols.select(col("tableName"), col("colIdx"),
        col("dtype"), col("kurtosis")), Seq("tableName", "colIdx"))
      .cache()
    val dtypeOk = typed.filter(col("dtype") === col("kbDtype")).cache()
    println(f"FUNNEL dtype-equal: ${n(dtypeOk)} / $nGold = ${n(dtypeOk).toDouble / nGold}%.4f")
    println("FUNNEL   dtype mismatches (web -> kb):")
    typed.filter(col("dtype") =!= col("kbDtype"))
      .groupBy("dtype", "kbDtype").count().orderBy(col("count").desc)
      .collect().foreach(r => println(s"FUNNEL     ${r.get(0)} -> ${r.get(1)}: ${r.get(2)}"))
    typed.filter(col("dtype") =!= col("kbDtype"))
      .join(cells.filter(col("kind") === "text" && col("text").isNotNull)
        .groupBy("tableName", "colIdx")
        .agg(slice(collect_list(col("text")), 1, 4).as("sample")),
        Seq("tableName", "colIdx"), "left")
      .select("tableName", "colIdx", "propUri", "dtype", "kbDtype", "sample")
      .collect().foreach(r => println(s"FUNNEL     mismatch $r"))

    // F3: kurtosis gate (numeric columns only)
    val kurtOk = dtypeOk.filter(col("dtype") =!= graft.model.Dtype.Numeric ||
      (col("kurtosis").isNotNull && col("kurtosis") >= 2.0)).cache()
    println(f"FUNNEL kurtosis-gate: ${n(kurtOk)} / $nGold = ${n(kurtOk).toDouble / nGold}%.4f")

    // cross-check vs the actual blocker
    val pairs = Schema.blockPairs(webCols, classesAnc, kb.propsByClass, 2.0).cache()
    val inPairs = goldK.join(pairs.select("tableName", "colIdx", "propId"),
      Seq("tableName", "colIdx", "propId"), "left_semi")
    println(f"FUNNEL in-blocked-pairs: ${n(inPairs)} / $nGold = ${n(inPairs).toDouble / nGold}%.4f")

    // F4/F5: votes — duplicate-based matching with thresholds relaxed,
    // over the run's refined candidates
    opts.get("refined").foreach { p =>
      val refined = spark.read.parquet(p)
      val kbCells = kb.cells
      val anyVote = Schema.duplicateBased(refined, cells, kbCells, pairs,
        dupK = 2, dupThreshold = 0.5, voteThreshold = 1e-9,
        resultThreshold = 0.0, surfaceForms = Some(sf))
      val f4 = goldK.join(anyVote.select("tableName", "colIdx", "propId"),
        Seq("tableName", "colIdx", "propId"), "left_semi")
      println(f"FUNNEL any-vote(sim>0): ${n(f4)} / $nGold = ${n(f4).toDouble / nGold}%.4f")
      val passVote = Schema.duplicateBased(refined, cells, kbCells, pairs,
        dupK = 2, dupThreshold = 0.5, voteThreshold = 0.4,
        resultThreshold = 0.0, surfaceForms = Some(sf))
      val f5 = goldK.join(passVote.select("tableName", "colIdx", "propId"),
        Seq("tableName", "colIdx", "propId"), "left_semi")
      println(f"FUNNEL vote>=0.4: ${n(f5)} / $nGold = ${n(f5).toDouble / nGold}%.4f")
    }

    // F6: combined corrs >= 0.03 BEFORE the 1:1 top-1 (iteration output)
    opts.get("schema-corrs").foreach { p =>
      val combined = spark.read.parquet(p)
      val f6 = goldK.join(combined.select("tableName", "colIdx", "propId"),
        Seq("tableName", "colIdx", "propId"), "left_semi")
      println(f"FUNNEL combined>=0.03: ${n(f6)} / $nGold = ${n(f6).toDouble / nGold}%.4f")
    }

    // F7: the final emitted top-1 corrs (recall leg of the measured P/R)
    opts.get("final").foreach { p =>
      val fin = spark.read.parquet(p)
      val f7 = gold0.join(fin.select(col("tableName"), col("colIdx"),
          col("propUri")), Seq("tableName", "colIdx", "propUri"), "left_semi")
      val nAll = n(gold0)
      println(f"FUNNEL final-top1 (incl label): ${n(f7)} / $nAll = ${n(f7).toDouble / nAll}%.4f")
    }
    spark.stop()
  }
}
