package graft.kb

import graft.SparkSpec
import graft.fixtures.MicroCorpus
import graft.model.Dtype
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
}
