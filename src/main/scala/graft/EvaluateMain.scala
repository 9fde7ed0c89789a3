package graft

import graft.eval.Evaluator
import graft.kb.Loaders
import graft.triples.Canonicalizer
import org.apache.spark.sql.functions._

/**
 * Standalone correspondence evaluation (reference
 * EvaluateCorrespondences.main, EvaluateCorrespondences.java:57-100):
 * load a correspondence CSV + gold standard, canonicalise right-hand URIs
 * (Canonicalizer.java:40-71), print P/R/F1.
 *
 * Usage: runMain graft.EvaluateMain --corrs <csv> --gs <csv> [--canonicalize true]
 *
 * Gold-standard conversion mode (reference GoldStandardConverter.java:32):
 *   runMain graft.EvaluateMain --convert-gs <oldGsFileOrDir> --web <dir> --out <csv>
 * converts the original per-table T2D gold format (rows `(uri, label)`,
 * file name = table) to the `(table~RowK, uri, TRUE)` loader format.
 */
object EvaluateMain {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = Sessions(sys.env.getOrElse("SPARK_MASTER", "local[8]"), 8)

    opts.get("convert-gs").foreach { oldGs =>
      val docs = Loaders.loadWebTablesDir(spark, opts("web"))
      val converted = Loaders.convertOldGoldStandard(spark, docs, oldGs)
        .select(col("leftId"), col("rightId"),
          when(col("isPositive"), "TRUE").otherwise("FALSE"))
      converted.coalesce(1).write.mode("overwrite").csv(opts("out"))
      println(s"converted ${converted.count()} gold rows -> ${opts("out")}")
      spark.stop()
      return
    }

    var corrs = spark.read.csv(opts("corrs"))
      .select(col("_c0").as("leftId"), col("_c1").as("rightId"))
    if (opts.get("canonicalize").forall(_.toBoolean)) {
      val aliases = Canonicalizer.dbpediaScopedPropertyAliases(corrs, "rightId")
      corrs = Canonicalizer.canonicalise(corrs, aliases, "rightId")
    }
    val gs = Loaders.loadGoldStandard(spark, opts("gs"))
    val positives = gs.filter(col("isPositive")).select("leftId", "rightId")
    val prf = Evaluator.evaluate(corrs, positives, Seq("leftId", "rightId"))
    println(f"P=${prf.precision}%.4f R=${prf.recall}%.4f F1=${prf.f1}%.4f " +
      s"(tp=${prf.tp} predicted=${prf.predicted} gold=${prf.gold})")
    // --per-table <dir>: the per-table evaluation matrix (same shape as
    // T2KMain's evaluation_* CSVs — counts, P/R/F1, binary precision).
    opts.get("per-table").foreach { dir =>
      Evaluator.perGroup(corrs, positives, Seq("leftId", "rightId"),
          split(col("leftId"), "~").getItem(0)).orderBy("tableName")
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
      println(s"wrote per-table evaluation matrix -> $dir")
    }
    spark.stop()
  }
}
