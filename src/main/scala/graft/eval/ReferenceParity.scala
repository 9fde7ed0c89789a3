package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * P/R vs the REFERENCE'S OWN emitted correspondences — the BASELINE.json
 * north-star metric (>= 0.95 vs reference T2KMatch output, as opposed to
 * the gold standards, which even the paper only reaches ~0.82 against).
 *
 * The reference ships exactly one emitted artifact in this repo:
 * /root/reference/output/SF_schema_correspondences.csv (183 rows,
 * "<table>.csv~Col<k>", property URI, score — schema correspondences from
 * an SF-matcher run over the pipeline's combined corr matrix; scores are
 * the post-combine seeds the SF 1:1 filter kept, e.g. 0.08 = 0.4 GSJ x
 * 0.2 label weight).
 *
 * Usage:
 *   runMain graft.eval.ReferenceParity
 *     --ours <schema_correspondences parquet dir (tableName,colIdx,propUri,score)>
 *     [--ours-sf <sf_label_correspondences parquet (groupKey,left,right,score)>]
 *     --ref <reference CSV> [--props <kb props parquet for sf propId->uri>]
 */
object ReferenceParity {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = graft.Sessions(sys.env.getOrElse("SPARK_MASTER", "local[8]"), 8)

    val ref = spark.read.csv(opts("ref"))
      .select(col("_c0").as("leftId"), col("_c1").as("rightId"),
        col("_c2").cast("double").as("refScore"))

    def report(name: String, ours: DataFrame): Unit = {
      val prf = Evaluator.evaluate(ours.select("leftId", "rightId"),
        ref.select("leftId", "rightId"), Seq("leftId", "rightId"))
      // score parity on the intersection: the reference emits the combined
      // score, so matched pairs should carry (near-)identical values
      val joined = ours.join(ref, Seq("leftId", "rightId"))
        .select(abs(col("score") - col("refScore")).as("d"))
        .agg(count(lit(1)), max(col("d")), avg(col("d"))).collect()(0)
      println(f"PARITY $name: P=${prf.precision}%.4f R=${prf.recall}%.4f " +
        f"F1=${prf.f1}%.4f (tp=${prf.tp} ours=${prf.predicted} ref=${prf.gold}) " +
        f"scoreMatched=${joined.getLong(0)} maxAbsDelta=${joined.getDouble(1)}%.6f " +
        f"meanAbsDelta=${joined.getDouble(2)}%.6f")
    }

    // (a) the pipeline's combined schema corrs
    opts.get("ours").foreach { p =>
      val ours = spark.read.parquet(p).select(
        concat(col("tableName"), lit("~Col"), col("colIdx")).as("leftId"),
        col("propUri").as("rightId"), col("score"))
      report("pipeline-schema-corrs", ours)
    }

    // (b) the SF label-matcher output (groupKey = "<table>|<classId>")
    opts.get("ours-sf").foreach { p =>
      val props = opts.get("props") match {
        case Some(pp) => spark.read.parquet(pp).select(col("propId"), col("propUri"))
        case None => // rebuild the propId map from the KB dumps
          val hierarchy = opts.get("ontology")
            .map(graft.kb.Loaders.loadClassHierarchy(spark, _)).getOrElse(Nil)
          graft.kb.Loaders.loadLodCsvDir(spark, opts("kb"), hierarchy)
            .props.select(col("propId"), col("propUri"))
      }
      val ours = spark.read.parquet(p)
        .select(split(col("groupKey"), "\\|").getItem(0).as("tableName"),
          col("left").as("colIdx"), col("right").as("propId"), col("score"))
        .join(props, "propId")
        .select(concat(col("tableName"), lit("~Col"), col("colIdx")).as("leftId"),
          col("propUri").as("rightId"), col("score"))
      report("sf-label-matcher", ours)
    }
    spark.stop()
  }
}
