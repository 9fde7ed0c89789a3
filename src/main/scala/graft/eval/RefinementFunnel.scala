package graft.eval

import graft.kb.Loaders
import graft.pipeline.{Candidates, Classes, Keys}
import org.apache.spark.sql.functions._

/**
 * Quantifies the refinement approximation (ADVICE r3, Candidates.scala
 * refineFromSelection): our refinement derives its exact leg from
 * selection's class-UNFILTERED top-50 and runs the fuzzy leg only for
 * miss rows, while the reference re-queries its index per row with a
 * class filter, top-100, and ~1 fuzzy terms appended to EVERY query
 * (CandidateRefinement.java:56-60, DBPediaInstanceIndex.java:84-87).
 *
 * This tool runs the TRUE class-filtered top-100 re-query (the full
 * second token join the pipeline avoids) against a finished run's
 * checkpoints and reports, for the instance gold standard, how many gold
 * (row, uri) pairs each variant retains — the measured cost of the
 * derived shape.
 *
 * Usage: runMain graft.eval.RefinementFunnel --web <dir> --kb <dir>
 *   --ontology <tsv> --checkpoint <dir of a finished run> --gs-instance <csv>
 */
object RefinementFunnel {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = graft.Sessions(sys.env.getOrElse("SPARK_MASTER", "local[32]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val ck = opts("checkpoint")
    def stage(name: String) = spark.read.parquet(s"$ck/$name")
    val cells = stage("cells")
    val index = stage("candidate_tokens")
    val selection = stage("candidates_selected")
    val refined = stage("candidates_refined")
    val variants = stage("candidate_variants")

    val docs = Loaders.loadWebTablesDir(spark, opts("web"))
    val hierarchy = Loaders.loadClassHierarchy(spark, opts("ontology"))
    val kb = Loaders.loadLodCsvDir(spark, opts("kb"), hierarchy)
    val keyCols = Keys.detect(graft.model.SpanCodec.columns(docs))
    val classes0 = Classes.decide(selection, kb.classes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // The reference shape: full class-filtered top-100 re-query at
    // threshold 0.7, ~1 fuzzy terms on EVERY row (not just misses) — the
    // expensive second token join refineFromSelection avoids.
    val t0 = System.nanoTime()
    val trueRefined = Candidates.generate(cells, keyCols, index,
        numCandidates = 100, simThreshold = 0.7,
        classesPerTable = Some(classes0), maxEditDistance = 1,
        variants = Some(variants))
      .select("tableName", "rowNum", "uri")
      .localCheckpoint(false,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val nTrue = trueRefined.count()
    println(f"FUNNEL true-requery: $nTrue rows in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val ours = refined.select("tableName", "rowNum", "uri")

    val gold = Loaders.loadGoldStandard(spark, opts("gs-instance"))
      .filter(col("isPositive"))
      .select(split(col("leftId"), "~Row").getItem(0).as("tableName"),
        split(col("leftId"), "~Row").getItem(1).cast("int").as("rowNum"),
        col("rightId").as("uri"))
      // prune to loaded tables like the reference (T2KMatch.java:265-273)
      .join(docs.select(substring_index(col("doc_id"), "#", 1).as("tableName"))
        .distinct(), Seq("tableName"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val keys = Seq("tableName", "rowNum", "uri")
    val goldTrue = gold.join(trueRefined, keys, "left_semi")
    val goldOurs = gold.join(ours, keys, "left_semi")
    val lost = goldTrue.join(ours, keys, "left_anti")
    val gained = goldOurs.join(trueRefined, keys, "left_anti")
    println(s"FUNNEL gold=${gold.count()} inTrueRequery=${goldTrue.count()} " +
      s"inOurs=${goldOurs.count()} lostByDerivedShape=${lost.count()} " +
      s"gainedOverTrue=${gained.count()} oursRows=${ours.count()} trueRows=$nTrue")
    val l = lost.limit(20).collect()
    if (l.nonEmpty) {
      println("FUNNEL lost pairs (sample):")
      l.foreach(r => println(s"  ${r.getString(0)}~Row${r.getInt(1)} -> ${r.getString(2)}"))
    }
    spark.stop()
  }
}
