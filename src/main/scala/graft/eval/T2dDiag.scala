package graft.eval

import graft.kb.{CandidateIndex, Loaders}
import graft.model.SpanCodec
import graft.pipeline.{Candidates, Keys}
import org.apache.spark.sql.functions._

/**
 * Stage-by-stage recall diagnostics against a gold standard (the
 * candidate-statistics family of SURVEY.md §2.4 A9, aimed at the T2D
 * corpus): where along key-detection -> candidate selection -> refinement
 * do gold instance links get lost? Run:
 *
 *   runMain graft.eval.T2dDiag --web <dir> --kb <dir> --ontology <tsv>
 *     --gs-instance <csv> --gs-property <csv>
 */
object T2dDiag {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = graft.Sessions(sys.env.getOrElse("SPARK_MASTER", "local[32]"), 32)
    import spark.implicits._

    val docs = Loaders.loadWebTablesDir(spark, opts("web")).cache()
    val hierarchy = opts.get("ontology")
      .map(Loaders.loadClassHierarchy(spark, _)).getOrElse(Nil)
    val kb = Loaders.loadLodCsvDir(spark, opts("kb"), hierarchy)
    val sf = Loaders.loadSurfaceForms(spark, opts.get("sf"), opts.get("redirect"))

    val cells = SpanCodec.cells(docs).cache()
    val webCols = SpanCodec.columns(docs).cache()
    val keyCols = Keys.detect(webCols).cache()

    // --- key detection vs the gold rdfs:label property corrs -------------
    opts.get("gs-property").foreach { p =>
      val goldKeys = Loaders.loadGoldStandard(spark, p)
        .filter(col("isPositive") &&
          col("rightId").endsWith("rdf-schema#label"))
        .select(split(col("leftId"), "~Col").getItem(0).as("tableName"),
          split(col("leftId"), "~Col").getItem(1).cast("int").as("goldCol"))
      val joined = goldKeys.join(keyCols, Seq("tableName"), "left")
      val n = joined.count()
      val ok = joined.filter(col("colIdx") === col("goldCol")).count()
      val missing = joined.filter(col("colIdx").isNull).count()
      println(s"DIAG key-detection: $ok/$n correct, $missing tables undetected")
      joined.filter(col("colIdx") =!= col("goldCol")).limit(10).collect()
        .foreach(r => println(s"DIAG   wrong-key ${r.getString(0)}: got ${r.get(2)} want ${r.get(1)}"))
    }

    // --- candidate recall, selection pass (th 0.2, top 50) ----------------
    opts.get("gs-instance").foreach { p =>
      val gs = Loaders.loadGoldStandard(spark, p).filter(col("isPositive"))
        .select(split(col("leftId"), "~Row").getItem(0).as("tableName"),
          split(col("leftId"), "~Row").getItem(1).cast("int").as("rowNum"),
          col("rightId").as("uri")).cache()
      val nGold = gs.count()
      val index = CandidateIndex.build(kb.cells, sf).cache()

      for ((label, n, th, idf) <- Seq(("selection(50,0.2)", 50, 0.2, false),
                                 ("selection(50,0.2,IDF-rank)", 50, 0.2, true),
                                 ("refinement-unfiltered(100,0.7)", 100, 0.7, false))) {
        val cands = Candidates.generate(cells, keyCols, index, n, th,
          rankByIdf = idf)
        val hit = gs.join(cands, Seq("tableName", "rowNum", "uri"), "left_semi").count()
        println(f"DIAG candidate recall $label: $hit/$nGold = ${hit.toDouble / nGold}%.4f")
      }

      // upper bound: gold uri present in the index at all under ANY token
      // of the key cell (ignores thresholds/topN)
      val kt = Candidates.keyTokens(cells, keyCols)
      val anyHit = kt.join(index, "token")
        .join(Candidates.tableDim(keyCols), "tableId")
        .select("tableName", "rowNum", "uri").distinct()
      val reach = gs.join(anyHit, Seq("tableName", "rowNum", "uri"), "left_semi").count()
      println(f"DIAG token-reachable gold links: $reach/$nGold = ${reach.toDouble / nGold}%.4f")

      // gold uri exists in KB at all
      val inKb = gs.join(kb.cells.select("uri").distinct(), Seq("uri"), "left_semi").count()
      println(f"DIAG gold uri in KB: $inKb/$nGold = ${inKb.toDouble / nGold}%.4f")
    }
    spark.stop()
  }
}
