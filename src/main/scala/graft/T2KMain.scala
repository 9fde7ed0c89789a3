package graft

import graft.checkpoint.{Materialize, ParquetCheckpointer}
import graft.eval.{Diagnostics, Evaluator}
import graft.kb.{KbIngest, Loaders}
import graft.onetoone.{SFMatchers, SimilarityFlooding}
import graft.pipeline.{T2KConfig, T2KPipeline}
import graft.triples.GraphSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * CLI equivalent of the reference's T2KMatch.main (T2KMatch.java:99-167):
 * a user of the reference points this at the same inputs and gets the
 * same outputs — instance/schema/class correspondence tables, extracted
 * triples (partitioned graph table), and P/R evaluation when gold
 * standards are provided.
 *
 * Usage:
 *   runMain graft.T2KMain --web <dirOfCsvs | docsParquet> --kb <lodCsvDir>
 *     [--ontology <tsv>] [--sf <file>] [--redirect <file>] [--out <dir>]
 *     [--checkpoint <dir>] [--gs-instance <csv>] [--gs-class <csv>]
 *     [--gs-property <csv>] [--iterations N] [--mapped-ratio X]
 *     [--sf-matcher label|label-kb2wb|value|value-string] [--sf-sweep <dir>]
 *     [--parity-ref <refCsv> [--parity-out <dir>]
 *       [--parity-emit formula:minSim:filter:maxIter]]
 *   runMain graft.T2KMain --build-index <checkpointDir> --kb <lodCsvDir>
 *     [--ontology <tsv>] [--sf <file>] [--redirect <file>]
 */
object T2KMain {

  def main(args: Array[String]): Unit = {
    val spark = Sessions(sys.env.getOrElse("SPARK_MASTER", "local[32]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark, args) finally spark.stop()
  }

  /** The whole CLI on a caller's session, which it leaves running. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

    val hierarchy = opts.get("ontology")
      .map(Loaders.loadClassHierarchy(spark, _)).getOrElse(Nil)
    val kb = Loaders.loadLodCsvDir(spark, opts("kb"), hierarchy)
    val sf = Loaders.loadSurfaceForms(spark, opts.get("sf"), opts.get("redirect"))

    val cfg = T2KConfig(
      numIterations = opts.get("iterations").map(_.toInt).getOrElse(1),
      mappedRatio = opts.get("mapped-ratio").map(_.toDouble).getOrElse(0.0))

    // --- offline index build (DBpediaIndexer.java:133-159 counterpart) ---
    // --build-index <checkpointDir>: materialise the kb_cells ->
    // candidate_tokens -> candidate_variants stages ONCE for this --kb
    // (+ optional --sf/--redirect); pipeline runs pointed at the same
    // --checkpoint dir resume them instead of rebuilding — the
    // reference's offline-Lucene-index workflow (one KB, many corpora).
    // No --web needed in this mode.
    if (opts.contains("build-index")) {
      T2KPipeline.index(kb, sf, new ParquetCheckpointer(spark, opts("build-index")))
      println(s"built candidate index in ${opts("build-index")}")
      return
    }

    val webPath = opts("web")
    val docs =
      if (new java.io.File(webPath).isDirectory &&
        new java.io.File(webPath).listFiles().exists(_.getName.endsWith(".csv")))
        Loaders.loadWebTablesDir(spark, webPath)
      else spark.read.parquet(webPath)
    val result = opts.get("checkpoint") match {
      case Some(dir) => T2KPipeline.run(docs, kb, sf, hierarchy.toMap, cfg,
        new ParquetCheckpointer(spark, dir))
      case None => T2KPipeline.run(docs, kb, sf, hierarchy.toMap, cfg)
    }

    val out = opts.getOrElse("out", "t2k_out")
    result.instanceCorrs.write.mode("overwrite").parquet(s"$out/instance_correspondences")
    result.schemaCorrs.join(kb.props.select("propId", "propUri"), "propId")
      .write.mode("overwrite").parquet(s"$out/schema_correspondences")
    result.classCorrs.write.mode("overwrite").parquet(s"$out/class_decision")
    // the triples are built once, by this write; the CSV and the LCWA
    // summary below read the written table back, without its partition
    // columns
    GraphSink.write(result.triples, s"$out/triples")
    val triples = spark.read.parquet(s"$out/triples")
      .select(result.triples.columns.map(col): _*)

    // Reference-format CSV artifacts (what a reference user diffs:
    // CSVCorrespondenceFormatter outputs + class_decision + triples,
    // T2KMatch.java:662-681) and the A9 candidate statistics: one
    // header-first CSV file per directory.
    def csv(df: org.apache.spark.sql.DataFrame, path: String): Unit =
      df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
    csv(result.instanceCorrs.select(
      concat(col("tableName"), lit("~Row"), col("rowNum")).as("id1"),
      col("uri").as("id2"), col("score")), s"$out/csv/instance_correspondences")
    csv(result.schemaCorrs.join(kb.props.select("propId", "propUri"), "propId")
      .select(concat(col("tableName"), lit("~Col"), col("colIdx")).as("id1"),
        col("propUri").as("id2"), col("score")), s"$out/csv/schema_correspondences")
    csv(result.classCorrs.select(col("tableName"), col("className"), col("score")),
      s"$out/csv/class_decision")
    csv(triples, s"$out/csv/extracted_triples")
    csv(Diagnostics.candidateStats(result.instanceCorrs), s"$out/csv/candidate_statistics")
    // LCWA summary (reference prints existing/correct%/new counts)
    val lcwa = graft.triples.Triples.lcwaStats(triples).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    val existing = lcwa.collect { case ((false, _), n) => n }.sum
    val correct = lcwa.getOrElse((false, true), 0L)
    val newT = lcwa.collect { case ((true, _), n) => n }.sum
    val pct = if (existing == 0) 0.0 else correct * 100.0 / existing
    println(f"Extracted $existing%d existing ($pct%.4f%% match values in KB) and $newT%d new triples!")

    // The reference prunes gold standards to the LOADED web tables
    // (T2KMatch.java:265-273) — gs rows for tables not in --web would
    // otherwise deflate recall (gs_class covers 233 tables, the shipped
    // dir has 116).
    val loadedTables = docs
      .select(substring_index(col("doc_id"), "#", 1).as("tableName")).distinct()
    def gold(path: String): org.apache.spark.sql.DataFrame =
      Loaders.loadGoldStandard(spark, path).filter(col("isPositive"))
        .withColumn("tableName", split(col("leftId"), "~").getItem(0))
        .join(loadedTables, Seq("tableName"), "left_semi").drop("tableName")

    // Per-table evaluation matrix (the reference's evaluation.csv +
    // row/col binary/non-binary precisions, T2KMatch.java:1053-1094): one
    // row per table with counts, P/R/F1 and binary precision — what a
    // user debugging ONE bad table reads first.
    def perTableCsv(pred: org.apache.spark.sql.DataFrame,
                    gs: org.apache.spark.sql.DataFrame, level: String): Unit =
      csv(Evaluator.perGroup(pred, gs, Seq("leftId", "rightId"),
          split(col("leftId"), "~").getItem(0)).orderBy("tableName"),
        s"$out/csv/evaluation_$level")

    opts.get("gs-instance").foreach { p =>
      val gs = gold(p)
      val pred = result.instanceCorrs.select(
        concat(col("tableName"), lit("~Row"), col("rowNum")).as("leftId"),
        col("uri").as("rightId"))
      val prf = Evaluator.evaluate(pred, gs, Seq("leftId", "rightId"))
      println(f"instance P=${prf.precision}%.4f R=${prf.recall}%.4f F1=${prf.f1}%.4f")
      perTableCsv(pred, gs, "instance")
    }
    opts.get("gs-class").foreach { p =>
      val gs = gold(p)
      val pred = result.classCorrs.select(
        col("tableName").as("leftId"), col("className").as("rightId"))
      val prf = Evaluator.evaluate(pred, gs, Seq("leftId", "rightId"))
      println(f"class P=${prf.precision}%.4f R=${prf.recall}%.4f F1=${prf.f1}%.4f")
      perTableCsv(pred, gs, "class")
    }
    opts.get("gs-property").foreach { p =>
      val gs = gold(p)
      val pred = result.schemaCorrs
        .join(kb.props.select("propId", "propUri"), "propId")
        .select(concat(col("tableName"), lit("~Col"), col("colIdx")).as("leftId"),
          col("propUri").as("rightId"))
      val prf = Evaluator.evaluate(pred, gs, Seq("leftId", "rightId"))
      println(f"property P=${prf.precision}%.4f R=${prf.recall}%.4f F1=${prf.f1}%.4f")
      perTableCsv(pred, gs, "property")
      // Corpus-level group-averaged precisions (the reference's printed
      // non-binary / binary precision, per row-group = table and per
      // col-group = web column; avg() skips groups with no predictions).
      val byTable = Evaluator.perGroup(pred, gs, Seq("leftId", "rightId"),
        split(col("leftId"), "~").getItem(0))
      val byCol = Evaluator.perGroup(pred, gs, Seq("leftId", "rightId"),
        col("leftId"), "columnId")
      val r = byTable.agg(avg("precision"), avg("binary_precision")).head
      val c = byCol.agg(avg("precision"), avg("binary_precision")).head
      println(f"property nonBinaryPrecision(row)=${r.getDouble(0)}%.4f " +
        f"binaryPrecision(row)=${r.getDouble(1)}%.4f " +
        f"nonBinaryPrecision(col)=${c.getDouble(0)}%.4f " +
        f"binaryPrecision(col)=${c.getDouble(1)}%.4f")
    }
    // --- similarity-flooding alternative schema matchers (F2/F3) ---------
    // --sf-matcher label|label-kb2wb|value|value-string: run the SF seed
    // matcher over the pipeline's class decision, fixpoint + stable 1:1,
    // write corrs, evaluate vs --gs-property when present.
    opts.get("sf-matcher").foreach { mode =>
      val cells = graft.model.SpanCodec.cells(docs)
      val webCols = graft.model.SpanCodec.columns(docs)
      val classes = result.classCorrs.select("tableName", "classId")
      val kbPropsByClass = kb.propsByClass
      val seeds = mode match {
        case "label" => SFMatchers.labelSeeds(webCols, kb.props, kbPropsByClass, classes)
        case "label-kb2wb" => SFMatchers.labelSeeds(webCols, kb.props, kbPropsByClass, classes, "kb2wb")
        case "value" => SFMatchers.valueSeeds(result.instanceCorrs, cells,
          KbIngest.values(kb.cells, sf), webCols, typed = true)
        case "value-string" => SFMatchers.valueSeeds(result.instanceCorrs, cells,
          KbIngest.values(kb.cells, sf), webCols, typed = false)
        case other => throw new IllegalArgumentException(s"sf-matcher: $other")
      }
      val corrs = SimilarityFlooding.run(seeds)
      corrs.write.mode("overwrite").parquet(s"$out/sf_${mode}_correspondences")
      opts.get("gs-property").foreach { p =>
        val swap = mode.endsWith("kb2wb")
        val pred = corrs.select(
          concat(split(col("groupKey"), "\\|").getItem(0), lit("~Col"),
            (if (swap) col("right") else col("left"))).as("leftId"),
          (if (swap) col("left") else col("right")).as("propId"))
          .join(kb.props.select("propId", "propUri"), "propId")
          .select(col("leftId"), col("propUri").as("rightId"))
        val gs = gold(p)
        val prf = Evaluator.evaluate(pred, gs, Seq("leftId", "rightId"))
        println(f"sf-$mode property P=${prf.precision}%.4f R=${prf.recall}%.4f F1=${prf.f1}%.4f")
      }
    }

    // --- F5 sweep: seed sources × formulas × minSim × 1:1 filters
    // (T2KMatch.java:469-651), one P/R row per config. Seed sources:
    //  pipeline  — the reference's SF input: FULL (web col × class prop)
    //              matrix zero-padded around post-combine scores
    //              (SimilarityFloodingPipelineComparator semantics);
    //  label     — F2 label-based seeds;
    //  value     — F3 typed value-based seeds.
    opts.get("sf-sweep").foreach { sweepOut =>
      val classes = result.classCorrs.select("tableName", "classId")
      val cells = graft.model.SpanCodec.cells(docs)
      val webCols = graft.model.SpanCodec.columns(docs)
      val seedSources = Seq(
        "pipeline" -> SFMatchers.pipelineMatrixSeeds(
          result.schemaCorrs, webCols, kb.propsByClass, classes),
        "label" -> SFMatchers.labelSeeds(webCols, kb.props, kb.propsByClass, classes),
        "value" -> SFMatchers.valueSeeds(result.instanceCorrs, cells,
          KbIngest.values(kb.cells, sf), webCols, typed = true))
      val goldPairs = opts.get("gs-property").map { p =>
        gold(p)
          .select(split(col("leftId"), "~Col").getItem(0).as("tableName"),
            split(col("leftId"), "~Col").getItem(1).cast("int").as("left"),
            col("rightId").as("propUri"))
          .join(kb.props.select(col("propId").as("right"), col("propUri")), "propUri")
          .join(classes, "tableName")
          .select(concat(col("tableName"), lit("|"), col("classId")).as("groupKey"),
            col("left"), col("right"))
      }.getOrElse(seedSources.head._2.limit(0).select("groupKey", "left", "right"))
      val table = SFMatchers.sweep(seedSources, goldPairs)
      csv(table, sweepOut)
      table.orderBy(col("f1").desc).show(60, truncate = false)
    }

    // --- emission parity vs the reference's own emitted artifact ---------
    // The reference's one shipped artifact (output/SF_schema_correspondences
    // .csv, 183 rows) is an SF-flood + StableMarriage 1:1 filter over the
    // pipeline's COMBINED (pre-top-1) corr matrix, emitted with the raw
    // combine-stage seed scores (SimilarityFloodingPipeline.java:46-119;
    // provenance analysis in BENCH/reference_parity.md). This mode
    // (a) writes a per-reference-pair accounting CSV — emitted-at-top-1 /
    // in-matrix-but-lost-at-top-1 (with the winning property) / absent —
    // and (b) sweeps emission filters over the SAME combined matrix,
    // writing the parity artifact for the configured emission filter.
    //   --parity-ref <refCsv> [--parity-out <dir>]
    //   [--parity-emit formula:minSim:filter:maxIter   default none:0.02:stable:0]
    opts.get("parity-ref").foreach { refCsv =>
      val outDir = opts.getOrElse("parity-out", s"$out/parity")
      val props = kb.props.select(col("propId"), col("propUri"))
      val ref = spark.read.csv(refCsv).select(
        split(col("_c0"), "~Col").getItem(0).as("tableName"),
        split(col("_c0"), "~Col").getItem(1).cast("int").as("colIdx"),
        col("_c1").as("propUri"),
        col("_c2").cast("double").as("refScore"))
      val combined = Materialize(result.schemaCombined.join(props, "propId")
        .select(col("tableName"), col("colIdx"), col("propId"),
          col("propUri"), col("score")))
      val top1 = result.schemaCorrs.join(props, "propId")
        .select(col("tableName"), col("colIdx"), col("propUri"),
          col("score").as("top1Score"))

      // (a) per-pair accounting
      val winners = top1.select(col("tableName"), col("colIdx"),
        col("propUri").as("winnerUri"), col("top1Score").as("winnerScore"))
      val acct = ref
        .join(combined.select(col("tableName"), col("colIdx"), col("propUri"),
          col("score").as("matrixScore")), Seq("tableName", "colIdx", "propUri"), "left")
        .join(top1.select(col("tableName"), col("colIdx"), col("propUri"))
          .withColumn("inTop1", lit(true)), Seq("tableName", "colIdx", "propUri"), "left")
        .join(winners, Seq("tableName", "colIdx"), "left")
        .withColumn("status",
          when(col("inTop1"), "emitted")
            .when(col("matrixScore").isNotNull, "lost_at_top1")
            .otherwise("absent_from_matrix"))
      csv(acct.orderBy("status", "tableName", "colIdx"), s"$outDir/accounting")
      acct.groupBy("status").count().orderBy("status").show(truncate = false)

      // (b) emission filters over the combined matrix
      val classes = result.classCorrs.select("tableName", "classId")
      val seeds = Materialize(SFMatchers.pipelineMatrixSeeds(
        result.schemaCombined, graft.model.SpanCodec.columns(docs),
        kb.propsByClass, classes))
      val refPairs = ref.select("tableName", "colIdx", "propUri")
      def emitted(formula: String, minSim: Double, filter: String,
                  maxIter: Int): org.apache.spark.sql.DataFrame =
        SimilarityFlooding.run(seeds, formula, minSim, filter, maxIter)
          .select(split(col("groupKey"), "\\|").getItem(0).as("tableName"),
            col("left").as("colIdx"), col("right").as("propId"))
          // re-attach the COMBINE seed score (the reference emits seeds,
          // not flooded scores) and drop zero-seed cells the 1:1 kept
          .join(combined.select("tableName", "colIdx", "propId", "propUri", "score"),
            Seq("tableName", "colIdx", "propId"))
      val grid = Seq(
        ("none", 0.02, "stable", 0), ("none", 0.02, "hungarian", 0),
        ("none", 0.05, "stable", 0), ("none", 0.10, "stable", 0),
        ("A", 0.05, "stable", 1000), ("A", 0.10, "stable", 1000),
        ("C", 0.05, "stable", 1000), ("B", 0.05, "stable", 1000))
      grid.foreach { case (f, m, filt, it) =>
        val e = emitted(if (f == "none") "A" else f, m, filt,
          if (f == "none") 0 else it)
        val prf = Evaluator.evaluate(
          e.select("tableName", "colIdx", "propUri"), refPairs,
          Seq("tableName", "colIdx", "propUri"))
        println(f"EMIT|$f|$m|$filt|$it|P=${prf.precision}%.4f|R=${prf.recall}%.4f|" +
          f"F1=${prf.f1}%.4f|tp=${prf.tp}|ours=${prf.predicted}|ref=${prf.gold}")
      }
      // Label-state emission: the artifact's score histogram (114×0.8 key
      // corrs + 56×0.08 = 0.4-GSJ label votes + 13 dup-influenced rows)
      // shows the emitting run had almost NO instance matching — so the
      // faithful reconstruction of ITS matrix is key corrs + the label
      // leg alone. Build that matrix, 1:1-filter it the same way, and
      // also measure the UNION with the shipped-config top-1 set (both
      // states' emissions — the two-provenance artifact).
      locally {
        val webCols = graft.model.SpanCodec.columns(docs)
        val keyCorrs = graft.pipeline.Keys.keyCorrs(
          graft.pipeline.Keys.detect(webCols))
        // ancestor-closed class set — the pipeline's own blocker admits
        // superclass-owned properties (A4), and the reference artifact
        // carries such rows (e.g. `language` on a Country table)
        val classesAnc = graft.pipeline.Classes.withAncestors(
          result.classCorrs.select(col("tableName"), col("classId"),
            col("score").as("classScore")),
          kb.classes, hierarchy.toMap)
        val pairs = graft.pipeline.Schema.blockPairs(
          webCols, classesAnc, kb.propsByClass)
        val label = graft.pipeline.Schema.labelBased(pairs, webCols, kb.props)
        val emptyDup = label.limit(0)
        val labelMatrix = Materialize(graft.pipeline.Schema.combine(
            emptyDup, label, keyCorrs).join(props, "propId"))
        val labelSeeds = SFMatchers.pipelineMatrixSeeds(
          labelMatrix.select("tableName", "colIdx", "propId", "score"),
          webCols, kb.propsByClass, classesAnc)
        def eval(name: String, e: org.apache.spark.sql.DataFrame): Unit = {
          val prf = Evaluator.evaluate(
            e.select("tableName", "colIdx", "propUri"), refPairs,
            Seq("tableName", "colIdx", "propUri"))
          println(f"EMIT|$name|P=${prf.precision}%.4f|R=${prf.recall}%.4f|" +
            f"F1=${prf.f1}%.4f|tp=${prf.tp}|ours=${prf.predicted}|ref=${prf.gold}")
        }
        val labelState = Materialize(
          SimilarityFlooding.run(labelSeeds, "A", 0.02, "stable", 0)
            .select(split(col("groupKey"), "\\|").getItem(0).as("tableName"),
              col("left").as("colIdx"), col("right").as("propId"))
            .distinct() // the same (col, prop) can win in several class groups
            .join(labelMatrix.select("tableName", "colIdx", "propId", "propUri", "score"),
              Seq("tableName", "colIdx", "propId")))
        eval("labelstate-stable", labelState)
        csv(labelState
          .select(concat(col("tableName"), lit("~Col"), col("colIdx")).as("id1"),
            col("propUri").as("id2"), col("score")), s"$outDir/labelstate_artifact")
        val top1Set = top1.select("tableName", "colIdx", "propUri")
        eval("shipped-top1", top1Set)
        val unionSet = top1Set
          .unionByName(labelState.select("tableName", "colIdx", "propUri"))
          .distinct()
        eval("union-both-states", unionSet)
        // the committed two-provenance artifact: shipped-config top-1
        // rows carry the combine score; label-state-only rows carry the
        // label-matrix score
        val unionArtifact = top1
          .select(col("tableName"), col("colIdx"), col("propUri"),
            col("top1Score").as("score"))
          .unionByName(labelState
            .join(top1.select("tableName", "colIdx", "propUri")
              .withColumn("inT", lit(true)),
              Seq("tableName", "colIdx", "propUri"), "left_anti")
            .select(col("tableName"), col("colIdx"), col("propUri"), col("score")))
        csv(unionArtifact
          .select(concat(col("tableName"), lit("~Col"), col("colIdx")).as("id1"),
            col("propUri").as("id2"), col("score")), s"$outDir/union_artifact")
      }

      val Array(ef, em, efilt, eit) =
        opts.getOrElse("parity-emit", "none:0.02:stable:0").split(":")
      val artifact = emitted(if (ef == "none") "A" else ef, em.toDouble, efilt,
        if (ef == "none") 0 else eit.toInt)
      csv(artifact
        .select(concat(col("tableName"), lit("~Col"), col("colIdx")).as("id1"),
          col("propUri").as("id2"), col("score")), s"$outDir/emission_artifact")
      val prf = Evaluator.evaluate(
        artifact.select("tableName", "colIdx", "propUri"), refPairs,
        Seq("tableName", "colIdx", "propUri"))
      println(f"EMISSION-ARTIFACT $ef:$em:$efilt P=${prf.precision}%.4f " +
        f"R=${prf.recall}%.4f F1=${prf.f1}%.4f (tp=${prf.tp} " +
        f"ours=${prf.predicted} ref=${prf.gold}) -> $outDir/emission_artifact")
    }

    println(s"wrote correspondences + triples to $out")
  }
}
