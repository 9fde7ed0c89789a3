package graft

import graft.fixtures.MicroCorpus
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path}

/** The CLI end to end on the micro corpus, written to disk in the shapes
  * [[T2KMain]] reads: LOD class CSVs, docs parquet, a surface-form file,
  * a class-hierarchy TSV, the three gold standards and a parity reference.
  * Every flag is set, so one run drives every mode. */
class T2KMainSpec extends SparkSpec {

  private def csvLine(fields: Seq[String]): String =
    fields.map(f => "\"" + f.replace("\"", "\"\"") + "\"").mkString(",")

  /** Writes the micro corpus under `dir`; returns every flag but the
    * output paths. */
  private def inputs(dir: Path): Seq[String] = {
    val kbDir = Files.createDirectories(dir.resolve("kb"))
    // the header block LodParse.longForm reads (names, property URIs,
    // types), then one row per entity
    MicroCorpus.lodTables.foreach { t =>
      val rows = Seq(t.headers, t.propUris, t.xsdTypes) ++ t.rows
      Files.writeString(kbDir.resolve(s"${t.className}.csv"),
        rows.map(csvLine).mkString("", "\n", "\n"))
    }
    val docs = dir.resolve("docs").toString
    MicroCorpus.docs(spark).write.parquet(docs)
    val sf = dir.resolve("sf.txt")
    Files.writeString(sf, MicroCorpus.surfaceForms
      .map { case (label, form) => s"$label\t$form\n" }.mkString)
    val ontology = dir.resolve("ontology.tsv")
    Files.writeString(ontology, MicroCorpus.classHierarchy
      .map { case (c, p) => s"$c\t$p\n" }.mkString)
    // gold standards in the loader format: left id, right id, TRUE
    def gs(name: String, rows: Seq[(String, String)]): String = {
      val path = dir.resolve(name)
      Files.writeString(path, rows.map { case (l, r) => s"$l,$r,TRUE\n" }.mkString)
      path.toString
    }
    val colPairs = MicroCorpus.gsProperty.map { case (t, k, p) => s"$t~Col$k" -> p }
    val parityRef = dir.resolve("parity_ref.csv")
    Files.writeString(parityRef, colPairs.map { case (l, r) => s"$l,$r,0.8\n" }.mkString)
    Seq("--web", docs, "--kb", kbDir.toString, "--sf", sf.toString,
      "--ontology", ontology.toString,
      "--gs-instance", gs("gs_instance.csv",
        MicroCorpus.gsInstance.map { case (t, k, u) => s"$t~Row$k" -> u }),
      "--gs-class", gs("gs_class.csv", MicroCorpus.gsClass),
      "--gs-property", gs("gs_property.csv", colPairs),
      "--sf-matcher", "value", "--parity-ref", parityRef.toString)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def csvRows(path: String): Seq[String] =
    rows(spark.read.option("header", "true").csv(path))

  /** Runs the CLI; returns its stdout lines. */
  private def cli(args: Seq[String]): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(T2KMain.run(spark, args.toArray))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("one set of outputs with or without --checkpoint; the CSV triples are the graph table's") {
    val dir = Files.createTempDirectory("graft_t2kmain")
    val in = inputs(dir)
    val plain = dir.resolve("out_plain").toString
    val ckpt = dir.resolve("out_ckpt").toString
    val stdout = Seq(
      cli(in ++ Seq("--out", plain, "--sf-sweep", s"$plain/sweep")),
      cli(in ++ Seq("--out", ckpt, "--sf-sweep", s"$ckpt/sweep",
        "--checkpoint", dir.resolve("ckpt").toString)))

    for (table <- Seq("instance_correspondences", "schema_correspondences",
        "class_decision")) {
      val a = rows(spark.read.parquet(s"$plain/$table"))
      assert(a.nonEmpty, table)
      assert(a === rows(spark.read.parquet(s"$ckpt/$table")), table)
    }

    for (out <- Seq(plain, ckpt)) {
      val graph = spark.read.parquet(s"$out/triples").drop("pred_part", "subj_bucket")
      val path = s"$out/csv/extracted_triples"
      assert(spark.read.option("header", "true").csv(path).columns.toSeq ===
        graph.columns.toSeq)
      val csv = spark.read.option("header", "true").schema(graph.schema).csv(path)
      val triples = rows(graph)
      assert(triples.nonEmpty)
      assert(rows(csv) === triples, out)
    }
    assert(rows(spark.read.parquet(s"$plain/triples")) ===
      rows(spark.read.parquet(s"$ckpt/triples")))

    // the analysis modes: equal outputs from both runs, and the micro
    // corpus's gold standards and reference pairs are all recovered
    assert(rows(spark.read.parquet(s"$plain/sf_value_correspondences")) ===
      rows(spark.read.parquet(s"$ckpt/sf_value_correspondences")))
    val modeCsvs = Seq("csv/evaluation_instance", "csv/evaluation_class",
      "csv/evaluation_property", "sweep", "parity/accounting",
      "parity/labelstate_artifact", "parity/union_artifact",
      "parity/emission_artifact")
    for (p <- modeCsvs) assert(csvRows(s"$plain/$p") === csvRows(s"$ckpt/$p"), p)
    val nTables = MicroCorpus.gsClass.size
    for (level <- Seq("instance", "class", "property"))
      assert(csvRows(s"$plain/csv/evaluation_$level").size === nTables, level)
    // 3 seed sources x 2 formulas x 7 minSims x 3 filters
    assert(csvRows(s"$plain/sweep").size === 126)
    val acct = spark.read.option("header", "true").csv(s"$plain/parity/accounting")
    assert(acct.count() === MicroCorpus.gsProperty.size)
    assert(rows(acct.select("status").distinct()) === Seq("[emitted]"))
    for (lines <- stdout) {
      for (level <- Seq("instance", "class", "property"))
        assert(lines.contains(s"$level P=1.0000 R=1.0000 F1=1.0000"), level)
      assert(lines.exists(l => l.startsWith("EMISSION-ARTIFACT") &&
        l.contains("P=1.0000 R=1.0000")), lines.mkString("\n"))
    }
    // the same stdout, output paths aside; `show` table rows are left out,
    // since ties at the sweep table's 60-row cut can fall either way
    assert(stdout.map(_.map(_.replace(ckpt, plain)).sorted.filterNot(_.startsWith("|")))
      .distinct.size === 1)
  }
}
