package graft.checkpoint

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths, StandardOpenOption}

/**
 * Stage checkpointing with per-partition lineage + metrics (SURVEY.md
 * §1.5: the reference's Kryo .bin corpus caches — WebTables.java:280-299,
 * KnowledgeBase.java:320-339 — become Spark materialisation barriers,
 * all placed by [[Materialize]]; on a cluster the durable layout is
 * Iceberg snapshots, in the sandbox Parquet).
 *
 * A resumed run re-reads a completed stage instead of recomputing it
 * (resumability across the iteration loop). The manifest (JSONL, one line
 * per stage) records stage name, row count, partition count, per-partition
 * row counts and wall time — the "per-partition lineage + metrics" the
 * north rule asks for.
 *
 * A checkpointer only decides how a stage is stored, never which frames
 * are stages: the pipeline names the same stages whichever checkpointer
 * it is given, as the reference's caches store what the matcher computes
 * without changing it.
 */
trait Checkpointer {
  def apply(name: String, df: => DataFrame): DataFrame
}

/** The one compute-once barrier: materialise `df` once and return a
  * frame that every consumer reads instead of recomputing its plan.
  *
  * Local master: an EAGER localCheckpoint at `level`. Measured in round 7:
  * under AQE a lazy localCheckpoint is not lazy — Dataset.localCheckpoint
  * calls queryExecution.toRdd, and AdaptiveSparkPlanExec runs every
  * shuffle stage of the frame serially right there — yet it never
  * truncates the RDD graph (AQE materialises stages through
  * DAGScheduler.submitMapStage, which skips the rdd.doCheckpoint() hook),
  * so task binaries grew along the pipeline (2 -> 13 MiB on the 10-row
  * micro corpus) and cached partitions were silently recomputed. Eager
  * adds one result-stage job per barrier but truncates for real
  * (micro-pipeline definition 16.8 s -> 14.8 s). Truncation also bounds
  * the analysis of a reused subtree to once: persist()-based dims kept
  * their nested plans visible to every consumer, 22 s of the micro
  * pipeline's 29 s driver-side Catalyst work. The blocks are reclaimed
  * by the ContextCleaner once the frame is dropped.
  *
  * Non-local master: persist(level). Checkpointed blocks cannot be
  * recomputed, so an executor loss would fail the job; a persisted frame
  * is recomputed from lineage instead. It stays in the CacheManager until
  * the [[Materialize.Scope]] it was persisted in is released; a frame
  * persisted outside any scope belongs to its caller. Durable truncation
  * on a cluster is [[ParquetCheckpointer]]'s job.
  *
  * `level` is the caller's: the sites that choose DISK_ONLY or a _SER
  * level say why. Nothing else in the engine calls persist, cache or
  * localCheckpoint, so this object alone decides how long a frame lives. */
object Materialize {
  /** The frames [[Materialize]] persisted while a [[scoped]] block ran. */
  final class Scope private[Materialize] {
    private val frames = collection.mutable.ArrayBuffer.empty[DataFrame]
    private[Materialize] def record(df: DataFrame): Unit = synchronized { frames += df }
    /** Unpersist every recorded frame; call once the frames built from
      * them are written or collected. Idempotent. */
    def release(): Unit = synchronized {
      frames.foreach(_.unpersist(blocking = false))
      frames.clear()
    }
  }

  private val current = new scala.util.DynamicVariable[Option[Scope]](None)

  /** Run `body` with a fresh [[Scope]] that records every frame persisted
    * inside it (inner scopes keep their own). */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    current.withValue(Some(scope))(body(scope))
  }

  def apply(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    apply(df, level, df.sparkSession.sparkContext.isLocal)

  /** Explicit-master form, so a spec can exercise the non-local branch. */
  private[checkpoint] def apply(df: DataFrame, level: StorageLevel,
                                local: Boolean): DataFrame =
    if (local) df.localCheckpoint(eager = true, level)
    else { current.value.foreach(_.record(df)); df.persist(level) }
}

/** Materialise each stage through [[Materialize]]. Stage outputs are
  * reused by several downstream joins, and every reuse would otherwise
  * inline the whole upstream logical plan. [[ParquetCheckpointer]] adds
  * durability and resume. */
object LocalCheckpointer extends Checkpointer {
  def apply(name: String, df: => DataFrame): DataFrame = Materialize(df)
}

class ParquetCheckpointer(spark: SparkSession, dir: String) extends Checkpointer {
  Files.createDirectories(Paths.get(dir))
  private val manifestPath = Paths.get(dir, "manifest.jsonl")

  private def donePath(name: String) = Paths.get(dir, name, "_GRAFT_DONE")

  def apply(name: String, df: => DataFrame): DataFrame = {
    val path = s"$dir/$name"
    if (Files.exists(donePath(name))) {
      spark.read.parquet(path)          // resume: stage already materialised
    } else {
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(path)
      val back = spark.read.parquet(path)
      // per-partition lineage from parquet FOOTERS (metadata only) — the
      // round-1 groupBy(spark_partition_id).count re-scanned every stage's
      // data a second time, doubling checkpoint I/O
      val conf = spark.sessionState.newHadoopConf()
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(conf)
      val perPart = fs.listStatus(hPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .map { f =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
          try rd.getRecordCount finally rd.close()
        }
      val wallMs = (System.nanoTime() - t0) / 1000000
      val line = s"""{"stage":"${name}","rows":${perPart.sum},""" +
        s""""partitions":${perPart.length},"perPartitionRows":[${perPart.mkString(",")}],""" +
        s""""wallMs":$wallMs}""" + "\n"
      Files.writeString(manifestPath, line,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      Files.createFile(donePath(name))
      back
    }
  }
}
