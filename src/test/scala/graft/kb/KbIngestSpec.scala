package graft.kb

import graft.SparkSpec
import graft.fixtures.MicroCorpus
import graft.model.Dtype
import graft.text.Normalize
import graft.util.Udfs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

class KbIngestSpec extends SparkSpec {
  lazy val kb: KbIngest.Ingested = KbIngest.fromLodTables(
    spark, MicroCorpus.lodTables, MicroCorpus.classHierarchy)

  test("global property ids, rdfs:label fixed at 0") {
    val props = kb.props.collect().map(r =>
      r.getString(1) -> r.getInt(0)).toMap
    assert(props(Dtype.RdfsLabelUri) === 0)
    assert(props.size === 3) // label + author + year
    assert(props.values.toSeq.sorted === Seq(0, 1, 2))
  }

  test("property dtype inference") {
    val d = kb.props.collect().map(r => r.getString(1) -> r.getString(3)).toMap
    // year-only values type as DATE (mirrors web-column inference, keeps
    // year columns out of the numeric kurtosis gate — see SafeCast.yearPat)
    assert(d("http://dbpedia.org/ontology/year") === Dtype.Date)
    assert(d("http://dbpedia.org/ontology/PopulatedPlace/author") === Dtype.String)
  }

  test("classes registered incl. dataless superclasses; weights") {
    val cls = kb.classes.collect().map(r =>
      (r.getString(1), r.getLong(3), r.getDouble(4))).toList
    val names = cls.map(_._1).toSet
    assert(names === Set("kbtable1", "kbtable2", "Work", "Organisation", "Thing"))
    val bySize = cls.map(c => c._1 -> c._2).toMap
    assert(bySize("kbtable1") === 5 && bySize("kbtable2") === 5)
    // classWeight = 1 - size/maxSize: both data classes have max size -> 0
    val w = cls.map(c => c._1 -> c._3).toMap
    assert(w("kbtable1") === 0.0 && w("Thing") === 1.0)
  }

  test("_label strip conditioned on the propUri local name (ADVICE r4)") {
    import spark.implicits._
    val rows = Seq(
      // twin-derived header: localName "language" + "_label" -> stripped
      ("c1", "http://dbpedia.org/ontology/language", "language_label", "u1", "German"),
      // genuine property whose local name itself ends in _label -> kept
      ("c1", "http://dbpedia.org/ontology/record_label", "record_label", "u1", "EMI"),
      ("c1", Dtype.RdfsLabelUri, "label", "u1", "Thing One"))
      .toDF("className", "propUri", "propHeader", "uri", "rawValue")
    val kb2 = KbIngest.fromLongForm(spark, rows, Seq("c1" -> "root"))
    val h = kb2.props.collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(h("http://dbpedia.org/ontology/language") === "language")
    assert(h("http://dbpedia.org/ontology/record_label") === "record_label")
  }

  test("kb rows and cells") {
    assert(kb.cells.select("uri").distinct().count() === 10)
    // each entity: 1 label + 1 value cell
    assert(kb.cells.count() === 20)
    val gestern = kb.cells.filter(col("uri") === "http://dbpedia.org/resource/Gestern"
      ).collect().map(r => r.getAs[Int]("propId") -> r.getAs[String]("value")).toMap
    assert(gestern(KbIngest.RdfsLabelPropId) === "Gestern")
  }

  test("in-memory tables follow the CLI rule: owl#Thing and non-http rows ingest no cell") {
    val t1 = MicroCorpus.kbTable1
    val t = t1.copy(rows = t1.rows ++ Seq(
      Seq("http://www.w3.org/2002/07/owl#Thing", "Thing", "Nobody"),
      Seq("URI", "label", "author")))
    val kb2 = KbIngest.fromLodTables(spark, Seq(t), MicroCorpus.classHierarchy)
    val uris = kb2.cells.select("uri").distinct().collect().map(_.getString(0)).toSet
    assert(uris === t1.rows.map(_.head).toSet)
  }

  test("most-specific-class dedup keeps deepest class") {
    // entity in both a class and its (shallower) superclass
    val t1 = MicroCorpus.kbTable1
    val dup = t1.copy(className = "Work",
      rows = Seq(Seq("http://dbpedia.org/resource/Day_Go", "Day Go", "Somebody Else")))
    val kb2 = KbIngest.fromLodTables(spark, Seq(t1, dup), MicroCorpus.classHierarchy)
    val dayGo = kb2.cells.filter(col("uri") === "http://dbpedia.org/resource/Day_Go")
      .select("className").distinct().collect().map(_.getString(0)).toSeq
    assert(dayGo === Seq("kbtable1")) // kbtable1 deeper than Work
  }

  test("multi-valued cells split") {
    val t = MicroCorpus.kbTable1.copy(rows =
      Seq(Seq("http://x/e1", "E One", "{a|b}")))
    val kb2 = KbIngest.fromLodTables(spark, Seq(t), MicroCorpus.classHierarchy)
    val vals = kb2.cells.filter(col("propId") =!= KbIngest.RdfsLabelPropId)
      .select("value").collect().map(_.getString(0)).toSet
    assert(vals === Set("a", "b"))
  }

  private def sorted(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("values: the KB's own rows are kb.cells row for row, plus their operands") {
    val values = KbIngest.values(kb.cells, MicroCorpus.surfaceFormsDf(spark))
    assert(values.columns.toSeq === kb.cells.columns.toSeq ++
      Seq("valueNorm", "valueNum", "valueDate", "viaSf"))
    val own = values.filter(!col("viaSf"))
    assert(sorted(own, kb.cells.columns) === sorted(kb.cells, kb.cells.columns))
    val typed = kb.cells.select(col("*") +: Udfs.operands("value"): _*)
    assert(sorted(own, typed.columns) === sorted(typed, typed.columns))
    own.select("value", "valueNorm").collect().foreach { r =>
      assert(r.getString(1) === Normalize.normalise(r.getString(0)))
    }
    val mannheim = own.filter(col("uri") === "http://dbpedia.org/resource/University_Of_Mannheim" &&
      col("propId") =!= KbIngest.RdfsLabelPropId).select("valueNum", "valueDate").head()
    assert(mannheim === Row(1989.0, java.sql.Date.valueOf("1989-01-01")))
  }

  test("values: one row per matching surface form, with the surface form's operands") {
    val sf = MicroCorpus.surfaceFormsDf(spark)
    val values = KbIngest.values(kb.cells, sf)
    val alts = values.filter(col("viaSf"))
    // expected: every (kb cell, surface form) whose normalised label equals
    // the cell's normalised value, the surface form in place of the value
    val expected = for {
      r <- kb.cells.collect().toSeq
      (label, form) <- MicroCorpus.surfaceForms
      if Normalize.normalise(r.getAs[String]("value")) == Normalize.normalise(label)
    } yield Seq(r.getAs[String]("uri"), r.getAs[Int]("propId"), form,
      Normalize.normalise(form)).mkString("|")
    assert(expected.size === MicroCorpus.surfaceForms.size) // each form matches once
    assert(sorted(alts, Seq("uri", "propId", "value", "valueNorm")) === expected.sorted)
    // the rest of each row is its value's row; operands are the form's own
    val typed = kb.cells.join(sf, Normalize.normaliseCol(col("value")) ===
        Normalize.normaliseCol(col("label")))
      .withColumn("value", col("surfaceForm")).drop("label", "surfaceForm")
      .select(col("*") +: Udfs.operands("value"): _*)
    assert(sorted(alts, typed.columns) === sorted(typed, typed.columns))
    // a value that matches no label adds no row
    assert(alts.filter(col("uri") === "http://dbpedia.org/resource/Day_After").isEmpty)
  }

  test("values: null and empty labels never join") {
    import spark.implicits._
    // KB values and labels that all normalise to null
    val cells = Seq((0, "c", "http://x/a", 0, "(null)", Dtype.String),
        (0, "c", "http://x/b", 1, "---", Dtype.String))
      .toDF("classId", "className", "uri", "propId", "value", "dtype")
    val sf = Seq[(String, String)]((null, "x"), ("", "y"), ("NULL", "z"),
        ("   ", "w"), ("(null)", "v"), ("---", "u"))
      .toDF("label", "surfaceForm")
    val values = KbIngest.values(cells, sf)
    assert(values.filter(col("viaSf")).isEmpty)
    assert(values.count() === 2)
  }
}
