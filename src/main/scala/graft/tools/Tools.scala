package graft.tools

import graft.{Sessions, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/**
 * Developer tools over SparkEntry.queries, behind one main:
 *
 *   runMain graft.tools.Tools plan <tag> <suffix> [query ...]
 *     writes `.explain("formatted")` of each query to
 *     plans/<tag>/<query>_<suffix>.txt (plan evidence for a change), with
 *     session ids renumbered ([[renumbered]]);
 *   runMain graft.tools.Tools time [reps] [query ...]
 *     times each query `reps` times (default 3) with graft.Bench's action
 *     (queryExecution.toRdd.count(): every output column of every row),
 *     one query at a time, so one operator's change is measured without
 *     the full sweep's cross-query noise; jobs carry "<query> rep<i>";
 *   runMain graft.tools.Tools golden
 *     prints the q_t2k_triples rows pinned in SparkEntry.oracleSql,
 *     regenerated from the deterministic micro corpus.
 *
 * No query args = all queries. `plan` and `time` read Bench's env
 * (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS; default 32 cores); `golden`
 * runs at local[8] on the built-in corpus.
 */
object Tools {
  private val usage =
    "usage: Tools plan <tag> <suffix> [query ...] | time [reps] [query ...] | golden"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    args.toList match {
      case "plan" :: tag :: suffix :: names =>
        withSession(cpus)(plan(_, sfDir, tag, suffix, orAll(names)))
      case "time" :: rest =>
        val reps = rest.headOption.flatMap(_.toIntOption)
        withSession(cpus)(time(_, sfDir, reps.getOrElse(3),
          orAll(if (reps.isDefined) rest.tail else rest)))
      case List("golden") => withSession(8)(golden)
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    }
  }

  private def orAll(names: Seq[String]): Seq[String] =
    if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted

  private def withSession(cpus: Int)(body: SparkSession => Unit): Unit = {
    val spark = Sessions(s"local[$cpus]", cpus)
    try body(spark) finally spark.stop()
  }

  private def plan(spark: SparkSession, sfDir: String, tag: String,
                   suffix: String, names: Seq[String]): Unit = {
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    names.foreach { name =>
      val formatted = renumbered(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode))
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), formatted)
      println(s"wrote plans/$tag/${name}_$suffix.txt (${formatted.length} chars)")
    }
  }

  /** Session counters — expression ids (`#123`), `plan_id`s, RDD ids and
    * lambda variable names — renumbered per kind by first appearance: two
    * dumps of one plan give identical text. */
  def renumbered(plan: String): String = {
    val ids = mutable.Map.empty[String, mutable.Map[String, Int]]
    """(#|plan_id=|RDD\[|lambda x_)(\d+)""".r.replaceAllIn(plan, m => {
      val seen = ids.getOrElseUpdate(m.group(1), mutable.Map.empty)
      m.group(1) + seen.getOrElseUpdate(m.group(2), seen.size)
    })
  }

  private def time(spark: SparkSession, sfDir: String, reps: Int,
                   names: Seq[String]): Unit =
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { i =>
        spark.sparkContext.setJobDescription(s"$name rep$i")
        val t0 = System.nanoTime()
        val n = try fn(spark, sfDir).queryExecution.toRdd.count()
          catch { case e: Throwable => System.err.println(s"$name FAILED: $e"); -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"EXTRA|$name|rep$i|$dt%.3f|rows=$n")
        dt
      }
      println(f"EXTRA|$name|min|${times.min}%.3f|median=${times.sorted.apply(times.size / 2)}%.3f")
    }

  private def golden(spark: SparkSession): Unit =
    SparkEntry.queries("q_t2k_triples")(spark, "unused")
      .orderBy("subject_uri", "predicate_uri", "object_value").collect().foreach { r =>
        println(s"GOLDEN|${r.getString(0)}|${r.getString(1)}|${r.getString(2)}|${r.getBoolean(3)}|${r.getBoolean(4)}")
      }
}
