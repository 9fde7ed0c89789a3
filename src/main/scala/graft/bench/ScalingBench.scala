package graft.bench

import graft.fixtures.ScaleGen
import graft.kb.KbIngest
import graft.pipeline.T2KPipeline
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/**
 * Two-cluster-size scaling evidence (BASELINE.json north_rule; sandbox
 * proxy per driver instruction): run the SAME pipeline on the SAME input
 * at local[N] and local[4N], report docs/sec at both plus scaling
 * efficiency = (T_N / T_4N) / 4. Appends a row to BENCH/BASELINE.md.
 *
 * Usage: runMain graft.bench.ScalingBench [nLow] [nHigh] [nTables] [rowsPerTable]
 */
object ScalingBench {

  private[bench] def session(cores: Int): SparkSession =
    graft.Sessions(s"local[$cores]", math.max(cores, 4))

  /** Task-level CPU-vs-wall accounting (TaskMetrics): executorCpuTime is
    * time ON CPU; executorRunTime includes memory stalls, shuffle fetch
    * waits and spill I/O. cpu/run per core-second quantifies how much of
    * the added parallelism the DRAM wall eats on a one-socket proxy. */
  private[bench] class CpuWallListener extends org.apache.spark.scheduler.SparkListener {
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    val runMs = new java.util.concurrent.atomic.AtomicLong(0)
    val shufWriteB = new java.util.concurrent.atomic.AtomicLong(0)
    val shufReadB = new java.util.concurrent.atomic.AtomicLong(0)
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime); runMs.addAndGet(m.executorRunTime)
        shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }
    def cpuSec: Double = cpuNs.get / 1e9
    def runSec: Double = runMs.get / 1e3
    def cpuFraction: Double = if (runSec > 0) cpuSec / runSec else 0.0
  }

  case class RunStats(nDocs: Long, wallSec: Double, cpuSec: Double, runSec: Double,
                      shufWriteMB: Double, shufReadMB: Double) {
    def cpuFraction: Double = if (runSec > 0) cpuSec / runSec else 0.0
  }

  /** Per-PIPELINE-stage CPU/run attribution: TimedLocalCheckpointer runs
    * each stage's eager materialisation in a job group named after the
    * stage; this listener folds task metrics per group. Work not under a
    * named group (final write, dim collects) lands in "(ungrouped)". */
  private class StageCpuListener extends org.apache.spark.scheduler.SparkListener {
    private val stageToGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val perGroup = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long, Long)]()
    override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val g = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("(ungrouped)")
      js.stageInfos.foreach(si => stageToGroup.put(si.stageId, g))
    }
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        val g = stageToGroup.getOrDefault(te.stageId, "(ungrouped)")
        perGroup.merge(g, (m.executorCpuTime, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead),
          (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
      }
    }
    def report(cores: Int): Unit = {
      import scala.jdk.CollectionConverters._
      perGroup.asScala.toSeq.sortBy(-_._2._2).foreach { case (g, (cpuNs, runMs, sw, sr)) =>
        val cpu = cpuNs / 1e9; val run = runMs / 1e3
        System.err.println(f"[stagecpu] cores=$cores $g%-24s cpu=$cpu%8.1f s " +
          f"run=$run%8.1f s frac=${if (run > 0) cpu / run else 0.0}%.3f " +
          f"shufW=${sw / 1048576.0}%9.1f MB shufR=${sr / 1048576.0}%9.1f MB")
      }
    }
  }

  /** One full pipeline run with task CPU/run accounting. */
  def runOnce(cores: Int, cfg: ScaleGen.Config, dataDir: String): RunStats = {
    val spark = session(cores)
    val listener = new CpuWallListener
    spark.sparkContext.addSparkListener(listener)
    val stageListener =
      if (sys.env.contains("SPARK_GRAFT_PROFILE")) {
        val l = new StageCpuListener
        spark.sparkContext.addSparkListener(l); Some(l)
      } else None
    try {
      val docs = spark.read.parquet(s"$dataDir/docs.parquet")
      val kbLong = spark.read.parquet(s"$dataDir/kb_long.parquet")
      val sf = spark.read.parquet(s"$dataDir/surface_forms.parquet")
      val nDocs = docs.count()
      val t0 = System.nanoTime()
      val kb = KbIngest.fromLongForm(spark, kbLong, ScaleGen.hierarchy(cfg))
      System.err.println(f"[stage] kb_ingest_def           ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val ckpt = if (sys.env.contains("SPARK_GRAFT_PROFILE"))
        graft.checkpoint.TimedLocalCheckpointer else graft.checkpoint.LocalCheckpointer
      val result = T2KPipeline.run(docs, kb, sf, ScaleGen.hierarchy(cfg).toMap,
        ckpt = ckpt)
      val tw = System.nanoTime()
      result.triples.write.mode("overwrite")
        .parquet(s"$dataDir/out_triples_c$cores.parquet")
      System.err.println(f"[stage] triples_write          ${(System.nanoTime() - tw) / 1e9}%8.2f s")
      val secs = (System.nanoTime() - t0) / 1e9
      // Drain the async listener bus before reading the counters
      // (listenerBus.waitUntilEmpty is private[spark]): poll until EACH
      // task counter separately is stable for TWO consecutive 500 ms
      // intervals (a bus draining with >500 ms gaps between task-end
      // events, or offsetting changes in a summed probe, would otherwise
      // exit early and under-report), bounded at ~30 s.
      var prevCpu = -1L
      var prevRun = -1L
      var quiet = 0
      var tries = 0
      while (tries < 60 && quiet < 2) {
        if (listener.cpuNs.get == prevCpu && listener.runMs.get == prevRun) quiet += 1
        else quiet = 0
        prevCpu = listener.cpuNs.get
        prevRun = listener.runMs.get
        Thread.sleep(500)
        tries += 1
      }
      System.err.println(f"[cpu] cores=$cores taskCpu=${listener.cpuSec}%.1f s " +
        f"taskRun=${listener.runSec}%.1f s cpuFraction=${listener.cpuFraction}%.3f " +
        f"shufW=${listener.shufWriteB.get / 1048576.0}%.1f MB " +
        f"shufR=${listener.shufReadB.get / 1048576.0}%.1f MB")
      stageListener.foreach(_.report(cores))
      RunStats(nDocs, secs, listener.cpuSec, listener.runSec,
        listener.shufWriteB.get / 1048576.0, listener.shufReadB.get / 1048576.0)
    } finally spark.stop()
  }

  /** CPU-bound scaling probe: generalised-string-Jaccard over generated
    * fuzzy pairs — high compute per byte, so it isolates CPU scaling from
    * the single-socket DRAM-bandwidth ceiling that caps the memory-bound
    * pipeline stages on a one-box local[N] proxy. */
  def cpuProbe(cores: Int, nPairs: Long): Double = {
    val spark = session(cores)
    try {
      import org.apache.spark.sql.functions._
      val df = spark.range(nPairs)
        .withColumn("a", concat_ws(" ",
          (0 until 5).map(i => md5(concat(col("id"), lit(i)))): _*))
        .withColumn("b", concat_ws(" ",
          (0 until 5).map(i => md5(concat(col("id") + (i % 2), lit(i)))): _*))
      // unthresholded GSJ: the probe's CPU-bound kernel
      val gsj = udf((a: String, b: String) =>
        graft.text.Similarity.generalisedStringJaccard(a, b, 0.5, 0.0))
      val t0 = System.nanoTime()
      df.select(gsj(col("a"), col("b")).as("s"))
        .agg(sum(col("s"))).collect()
      (System.nanoTime() - t0) / 1e9
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val nLow = args.lift(0).map(_.toInt).getOrElse(8)
    val nHigh = args.lift(1).map(_.toInt).getOrElse(32)
    val cfg = ScaleGen.Config(
      nTables = args.lift(2).map(_.toInt).getOrElse(400),
      rowsPerTable = args.lift(3).map(_.toInt).getOrElse(100),
      nEntities = args.lift(4).map(_.toInt).getOrElse(50000),
      // realistic table-name lengths for shuffle-byte studies (see
      // ScaleGen.tableNamePad); default 0 keeps historical ledger inputs
      tableNamePad = sys.env.getOrElse("SPARK_GRAFT_NAMEPAD", "0").toInt)
    val dataDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "/tmp/graft_scaling")

    // Generate input once (seeded, deterministic).
    val gen = session(16)
    try {
      val (docs, _, _, _) = ScaleGen.webCorpus(gen, cfg)
      docs.write.mode("overwrite").parquet(s"$dataDir/docs.parquet")
      ScaleGen.kbLongForm(gen, cfg).write.mode("overwrite")
        .parquet(s"$dataDir/kb_long.parquet")
      ScaleGen.surfaceForms(gen, cfg).write.mode("overwrite")
        .parquet(s"$dataDir/surface_forms.parquet")
    } finally gen.stop()

    runOnce(nHigh, cfg, dataDir)                          // warm-up (JIT)
    val high = runOnce(nHigh, cfg, dataDir)
    val low = runOnce(nLow, cfg, dataDir)
    val nDocs = high.nDocs
    val (tLow, tHigh) = (low.wallSec, high.wallSec)
    val thrLow = nDocs / tLow
    val thrHigh = nDocs / tHigh
    val eff = (tLow / tHigh) / (nHigh.toDouble / nLow)
    // CPU-bound probe at both levels (JIT warm by now)
    val probePairs = sys.env.getOrElse("SPARK_GRAFT_PROBE_PAIRS", "2000000").toLong
    val pHigh = cpuProbe(nHigh, probePairs)
    val pLow = cpuProbe(nLow, probePairs)
    val pEff = (pLow / pHigh) / (nHigh.toDouble / nLow)
    val json = f"""{"metric":"scaling_efficiency","value":$eff%.3f,"unit":"ratio",""" +
      f""""docs":$nDocs,"coresLow":$nLow,"coresHigh":$nHigh,""" +
      f""""secsLow":$tLow%.2f,"secsHigh":$tHigh%.2f,""" +
      f""""docsPerSecLow":$thrLow%.1f,"docsPerSecHigh":$thrHigh%.1f,""" +
      f""""taskCpuFracLow":${low.cpuFraction}%.3f,"taskCpuFracHigh":${high.cpuFraction}%.3f,""" +
      f""""taskCpuSecLow":${low.cpuSec}%.1f,"taskCpuSecHigh":${high.cpuSec}%.1f,""" +
      f""""taskRunSecLow":${low.runSec}%.1f,"taskRunSecHigh":${high.runSec}%.1f,""" +
      f""""shufWriteMBHigh":${high.shufWriteMB}%.1f,"shufReadMBHigh":${high.shufReadMB}%.1f,""" +
      f""""cpuProbeSecsLow":$pLow%.2f,"cpuProbeSecsHigh":$pHigh%.2f,""" +
      f""""cpuProbeEfficiency":$pEff%.3f}"""
    println(json)
    val line = f"| ${java.time.LocalDate.now} | $nDocs docs | local[$nLow]: $thrLow%.0f docs/s " +
      f"(${tLow}%.1f s) | local[$nHigh]: $thrHigh%.0f docs/s (${tHigh}%.1f s) | $eff%.3f | " +
      f"cpu-probe: ${pLow}%.1f s vs ${pHigh}%.1f s -> $pEff%.3f | " +
      f"task cpu/run: ${low.cpuFraction}%.3f vs ${high.cpuFraction}%.3f |\n"
    val p = Paths.get("BENCH")
    Files.createDirectories(p)
    val f = p.resolve("BASELINE.md")
    if (!Files.exists(f)) Files.writeString(f,
      "# BENCH baseline — measured scaling (local[N] vs local[4N] proxy)\n\n" +
        "| date | input | low-parallelism | high-parallelism | efficiency (T_N/T_4N)/4 | cpu probe |\n" +
        "|---|---|---|---|---|---|\n")
    Files.writeString(f, line, java.nio.file.StandardOpenOption.APPEND)
  }
}
