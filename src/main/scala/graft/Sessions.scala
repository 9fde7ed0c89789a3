package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main, bench and the test suite build
  * their SparkSession here, so the engine always runs under the same
  * config — UTC timestamps, AQE on, ANSI off (dirty-web-data semantics:
  * bad casts yield null; parse sites use graft.util.SafeCast), no UI —
  * with log level WARN and the benign accumulator-GC noise filtered. */
object Sessions {
  def apply(master: String, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // AFTER session init, which configures log4j
    graft.util.Logs.quietBenignAccumulatorNoise()
    spark
  }
}
