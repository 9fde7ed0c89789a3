package graft

class SessionsSpec extends SparkSpec {
  test("the shared test session carries the factory's five confs") {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.sql.adaptive.enabled",
      "spark.sql.ansi.enabled", "spark.ui.enabled")
    assert(keys.map(k => k -> spark.conf.get(k)).toMap === Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.ansi.enabled" -> "false",
      "spark.ui.enabled" -> "false"))
  }
}
