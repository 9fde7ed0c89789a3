package graft.kb

import graft.SparkSpec
import graft.eval.Evaluator
import graft.fixtures.MicroCorpus
import graft.pipeline.T2KPipeline
import org.apache.spark.sql.functions._

/**
 * File-surface parity: load the REFERENCE'S OWN test resources
 * (/root/reference/src/test/resources) through our loaders and run the
 * full pipeline — the mappings must equal the micro-corpus goldens.
 * This is the "a reference user can switch" check at the file level.
 */
class LoadersSpec extends SparkSpec {
  import spark.implicits._

  private val res = "/root/reference/src/test/resources"
  private def available = new java.io.File(res).isDirectory

  test("csv content parser handles quotes, commas, quoted newlines, crlf") {
    assert(LodParse.parseCsv("\"a,b\",c,\"d\"\"e\"").toSeq.map(_.toSeq) ===
      Seq(Seq("a,b", "c", "d\"e")))
    assert(LodParse.parseCsv("x,,z\r\na,b,c").toSeq.map(_.toSeq) ===
      Seq(Seq("x", "", "z"), Seq("a", "b", "c")))
    assert(LodParse.parseCsv("\"multi\nline\",v\nnext,w").toSeq.map(_.toSeq) ===
      Seq(Seq("multi\nline", "v"), Seq("next", "w")))
    assert(LodParse.parseCsv("\uFEFF" + "bom,x").toSeq.map(_.toSeq) ===
      Seq(Seq("bom", "x")))
  }

  test("label-twin collapse keeps the _label column, else the last") {
    // _label twin precedes the object column (real dump order)
    val keep = LodParse.keepColumns(
      Seq("URI", "rdf-schema#label", "country_label", "country", "pop"),
      Seq("URI", "uri:label", "uri:country", "uri:country", "uri:pop"))
    assert(keep === Set(1, 2, 4))
    // no twin: last column per duplicate URI wins
    val keep2 = LodParse.keepColumns(
      Seq("URI", "rdf-schema#label", "areaTotal", "areaTotal"),
      Seq("URI", "uri:label", "uri:area", "uri:area"))
    assert(keep2 === Set(1, 3))
  }

  test("declared type tokens map to engine dtypes") {
    import graft.model.Dtype
    assert(LodParse.xsdToDtype("XMLSchema#gYear") === Dtype.Date)
    assert(LodParse.xsdToDtype("XMLSchema#double") === Dtype.Numeric)
    assert(LodParse.xsdToDtype("squareKilometre") === Dtype.Numeric)
    assert(LodParse.xsdToDtype("rdf-schema#Literal") === Dtype.String)
    assert(LodParse.xsdToDtype("22-rdf-syntax-ns#langString") === Dtype.String)
    assert(LodParse.xsdToDtype("Country") === null) // object column: unknown
    assert(LodParse.xsdToDtype("authorName") === null) // fixture junk: unknown
  }

  test("reference kbtables load with LOD semantics") {
    assume(available)
    val hierarchy = Loaders.loadClassHierarchy(spark, s"$res/ontology/ontology")
    assert(hierarchy.nonEmpty)
    // hierarchy entries are local names
    assert(hierarchy.exists(_ == ("Publisher", "Company")))
    val kb = Loaders.loadLodCsvDir(spark, s"$res/kbtables", Nil)
    assert(kb.cells.select("uri").distinct().count() === 10)
    val props = kb.props.collect().map(_.getString(1))
    assert(props.contains("http://dbpedia.org/ontology/year"))
  }

  test("reference surface forms + redirects merge") {
    assume(available)
    val sf = Loaders.loadSurfaceForms(spark,
      Some(s"$res/surfaceform/SFs.txt"), Some(s"$res/redirect/redirects"))
    val pairs = sf.as[(String, String)].collect().toSet
    assert(pairs.contains(("gestern", "yesterday")))
    assert(pairs.contains(("gestern", "yst")))
    // redirect direction: "go away" redirects TO "day go"
    assert(pairs.contains(("day go", "go away")))
  }

  test("old-T2D gold-standard conversion round-trips through the loader") {
    // old format: one CSV per table, rows (uri, label) — reference
    // GoldStandardConverter.java:32-99 links rows by whitespace-stripped
    // key-cell equality and emits (<table>~Row<k>, uri, TRUE).
    val docs = MicroCorpus.docs(spark)
    val keyCells = graft.model.SpanCodec.cells(docs)
      .join(graft.pipeline.Keys.detect(graft.model.SpanCodec.columns(docs)),
        Seq("tableName", "colIdx"))
      .filter($"kind" === "text" && $"text".isNotNull)
      .select("tableName", "rowNum", "text")
      .as[(String, Int, String)].collect()
    val gold = MicroCorpus.gsInstance
    val dir = java.nio.file.Files.createTempDirectory("oldgs").toFile
    try {
      gold.groupBy(_._1).foreach { case (table, rows) =>
        val lines = rows.map { case (t, rn, uri) =>
          val label = keyCells.collectFirst {
            case (`t`, `rn`, txt) => txt }.get
          // extra internal whitespace: conversion must strip it
          s"$uri,${label.replace(" ", "   ")}"
        }
        java.nio.file.Files.writeString(
          new java.io.File(dir, s"$table").toPath, lines.mkString("\n"))
      }
      val converted = Loaders.convertOldGoldStandard(spark, docs, dir.getPath)
      val got = converted.as[(String, String, Boolean)].collect().toSet
      val expected = gold.map { case (t, rn, uri) => (s"$t~Row$rn", uri, true) }.toSet
      assert(got === expected)
      // round-trip: write in loader format, reload, same set
      val out = new java.io.File(dir, "converted.csv").getPath
      converted.select($"leftId", $"rightId",
        when($"isPositive", "TRUE").otherwise("FALSE"))
        .coalesce(1).write.mode("overwrite").csv(out)
      val reloaded = Loaders.loadGoldStandard(spark, out)
        .as[(String, String, Boolean)].collect().toSet
      assert(reloaded === expected)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
      rm(dir)
    }
  }

  test("full pipeline over the reference's own fixture files = goldens") {
    assume(available)
    val docs = Loaders.loadWebTablesDir(spark, s"$res/webtables")
    assert(docs.count() === 12) // 2 headers + 10 rows
    val kb = Loaders.loadLodCsvDir(spark, s"$res/kbtables", Nil)
    val sf = Loaders.loadSurfaceForms(spark,
      Some(s"$res/surfaceform/SFs.txt"), Some(s"$res/redirect/redirects"))
    val result = T2KPipeline.run(docs, kb, sf, Map.empty)
    val gold = MicroCorpus.gsInstance.toDF("tableName", "rowNum", "uri")
    val prf = Evaluator.evaluate(
      result.instanceCorrs.select("tableName", "rowNum", "uri"), gold,
      Seq("tableName", "rowNum", "uri"))
    assert(prf.precision === 1.0 && prf.recall === 1.0, s"instance: $prf")
    val goldP = MicroCorpus.gsProperty.toDF("tableName", "colIdx", "propUri")
    val predP = result.schemaCorrs
      .join(kb.props.select($"propId", $"propUri"), "propId")
      .select("tableName", "colIdx", "propUri")
    val prfP = Evaluator.evaluate(predP, goldP, Seq("tableName", "colIdx", "propUri"))
    assert(prfP.precision === 1.0 && prfP.recall === 1.0, s"schema: $prfP")
  }
}
