package graft

import graft.fixtures.MicroCorpus
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path}

/** The CLI end to end on the micro corpus, written to disk in the shapes
  * [[T2KMain]] reads: LOD class CSVs, docs parquet, a surface-form file
  * and a class-hierarchy TSV. */
class T2KMainSpec extends SparkSpec {

  private def csvLine(fields: Seq[String]): String =
    fields.map(f => "\"" + f.replace("\"", "\"\"") + "\"").mkString(",")

  /** Writes the micro corpus under `dir`; returns the input flags. */
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
    Seq("--web", docs, "--kb", kbDir.toString, "--sf", sf.toString,
      "--ontology", ontology.toString)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("one set of outputs with or without --checkpoint; the CSV triples are the graph table's") {
    val dir = Files.createTempDirectory("graft_t2kmain")
    val in = inputs(dir)
    val plain = dir.resolve("out_plain").toString
    val ckpt = dir.resolve("out_ckpt").toString
    T2KMain.run(spark, (in ++ Seq("--out", plain)).toArray)
    T2KMain.run(spark, (in ++ Seq("--out", ckpt,
      "--checkpoint", dir.resolve("ckpt").toString)).toArray)

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
  }
}
