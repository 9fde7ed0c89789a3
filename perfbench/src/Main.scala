package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Runs one workload in this JVM and writes `result.json` (and, when
 * tracing, `trace.jsonl`) to `--out`. perfbench/run.py builds the
 * classpath, starts this JVM and prints the result line.
 *
 * Set-up is everything from JVM start to the first timed pass: session
 * start and input generation.
 * Every item's output is checked, and its digest is compared with the one
 * recorded for the same key in perfbench/digests.tsv. Timed passes repeat
 * while the next one still fits in `--seconds` (at least one). With
 * `--trace 1` every pass is traced and the per-layer metrics are their
 * medians; the tracing overhead is `trace.wall_s` there minus `wall_s` of
 * a `--trace 0` run with the same seed.
 */
object Main {
  private final case class Pass(items: Seq[Item], wallS: Double, okWallS: Double,
                                cpuS: Double, layer: Map[String, Double], trace: Seq[String])

  val stageNames: Seq[String] = Seq("cells", "kb_cells", "candidate_tokens",
    "candidate_variants", "candidates_selected", "candidates_refined",
    "candidates_filtered", "schema_corrs_it0")
  val opNames: Seq[String] = Seq("minhash_lsh", "jaccard_prefix", "simhash_pairs",
    "contaminated", "quality", "lang_id", "repetition", "ivf_topk", "multimodal")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val out = Paths.get(opts("out"))
    val cpus = opts("nproc").toInt
    Files.createDirectories(out)
    val recorded = readDigests(opts.get("digests"))
    val runId = s"$workload-seed$seed-${System.currentTimeMillis()}"
    log("main started")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Logs.quietBenignAccumulatorNoise()
    val sc = spark.sparkContext
    log("session started")

    try {
      val wl = Workload(workload, opts("data"))
      // set-up is traced too (its spans go to trace.jsonl, not to metrics)
      val setupTracer = if (trace) Some(new Tracer(s"$runId-setup", sc)) else None
      setupTracer.foreach(sc.addSparkListener)
      val setupScope = new Scope(setupTracer)
      val t = System.nanoTime()
      setupScope("setup.inputs")(wl.prepare(spark, seed, setupScope))
      val prepareS = (System.nanoTime() - t) / 1e9
      log(f"inputs ready in $prepareS%.1f s")
      setupTracer.foreach(sc.removeSparkListener)
      val setupS = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

      val t0 = System.nanoTime()
      var passes = Vector.empty[Pass]
      def more = passes.isEmpty ||
        (System.nanoTime() - t0) / 1e9 + passes.last.wallS <= seconds
      while (more) {
        val p = runPass(spark, wl, if (trace) Some(new Tracer(s"$runId-pass${passes.size + 1}", sc)) else None)
        passes :+= p.copy(items = p.items.map(i =>
          checkDigest(i, wl.digestKey(i.name), recorded)))
        log(f"pass ${passes.size} (traced=$trace) in ${p.wallS}%.1f s: " +
          p.items.map(i => f"${i.name}=${i.wallS}%.2f/${if (i.ok) "ok" else "failed"}").mkString(" "))
      }

      val items = passes.flatMap(_.items)
      val attempted = items.size
      val failed = items.count(!_.ok)
      val okPasses = passes.filter(_.items.exists(_.ok))
      val metrics = Seq.newBuilder[(String, Double, String)]
      if (okPasses.nonEmpty) {
        metrics += (("wall_s", Stats.median(okPasses.map(_.okWallS)), "s"))
        metrics += (("cpu_s", Stats.median(okPasses.map(_.cpuS)), "s"))
      }
      metrics += (("setup_s", setupS, "s"))
      metrics += (("peak_rss_mb", peakRssMb, "MB"))
      metrics += (("failed_frac", failed.toDouble / math.max(attempted, 1), "share"))
      if (trace) {
        metrics += (("jvm.peak_rss_mb", peakRssMb, "MB"))
        passes.flatMap(_.layer.keys).distinct.foreach { k =>
          metrics += ((k, Stats.median(passes.flatMap(_.layer.get(k))), unitOf(k)))
        }
        if (okPasses.nonEmpty)
          metrics += (("trace.wall_s", Stats.median(okPasses.map(_.okWallS)), "s"))
      }

      val env = Seq("nproc" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "git_sha" -> opts.getOrElse("git-sha", "unknown"))
      val result = Json.obj(Seq(
        "run_id" -> runId, "workload" -> workload, "seed" -> seed,
        "seconds" -> seconds, "trace" -> trace, "env" -> env.toMap,
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics.result().map { case (k, v, u) =>
          k -> Map("value" -> v, "unit" -> u) }.toMap,
        "setup" -> Map("total_s" -> setupS, "prepare_s" -> prepareS),
        "passes" -> passes.map(p => Map("wall_s" -> p.wallS,
          "ok_wall_s" -> p.okWallS, "cpu_s" -> p.cpuS)),
        "items" -> items.map(i => Map("name" -> i.name, "ok" -> i.ok,
          "wall_s" -> i.wallS, "detail" -> i.detail, "digest" -> i.digest)),
        "digests" -> passes.headOption.toSeq.flatMap(_.items).filter(_.ok)
          .collect { case Item(n, _, _, _, Some(d), _) => wl.digestKey(n) -> d }.toMap))
      if (trace) Files.write(out.resolve("trace.jsonl"),
        (setupTracer.toSeq.flatMap(_.jsonLines()) ++ passes.flatMap(_.trace)).asJava)
      Files.writeString(out.resolve("result.json"), result + "\n")
    } finally spark.stop()
  }

  private def log(msg: String): Unit =
    System.err.println(s"[perfbench] ${java.time.LocalTime.now} $msg")

  private def runPass(spark: SparkSession, wl: Workload, tracer: Option[Tracer]): Pass = {
    val sc = spark.sparkContext
    System.gc()
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    heapPools.foreach(_.resetPeakUsage())
    tracer.foreach(sc.addSparkListener)
    val gc0 = gcSeconds
    val cpu0 = processCpuSeconds
    val t0 = System.nanoTime()
    val scope = new Scope(tracer)
    val items = scope("pass")(wl.pass(spark, scope))
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = processCpuSeconds - cpu0
    val gcS = gcSeconds - gc0
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val (layer, lines) = tracer match {
      case Some(t) =>
        val m = layerMetrics(t, items) ++ Map("jvm.gc_s" -> gcS, "jvm.peak_heap_mb" -> peakHeapMb)
        sc.removeSparkListener(t)
        (m, t.jsonLines())
      case None => (Map.empty[String, Double], Nil)
    }
    Pass(items, wallS, items.filter(_.ok).map(_.wallS).sum, cpuS, layer, lines)
  }

  /** Per-layer metrics of one traced pass, from its spans and counters. */
  private def layerMetrics(t: Tracer, items: Seq[Item]): Map[String, Double] = {
    val spans = t.allSpans
    val incl = t.inclusiveCounters()
    def named(n: String) = spans.filter(_.name == n)
    def wall(n: String) = named(n).map(s => (s.end - s.start) / 1e9).sum
    def counters(n: String) = {
      val c = new Counters
      named(n).foreach(s => c.add(incl(s.id)))
      c
    }
    val pass = spans.find(_.name == "pass").get
    val pc = incl(pass.id)
    val m = Map.newBuilder[String, Double]
    m ++= Seq("spark.jobs" -> pc.jobs.toDouble, "spark.stages" -> pc.stages.toDouble,
      "spark.tasks" -> pc.tasks.toDouble, "spark.task_cpu_s" -> pc.taskCpuNs / 1e9,
      "spark.task_run_s" -> pc.taskRunMs / 1e3,
      "spark.shuffle_write_mb" -> pc.shuffleWriteB / 1048576.0,
      "spark.shuffle_read_mb" -> pc.shuffleReadB / 1048576.0,
      "spark.spill_mb" -> pc.spillB / 1048576.0,
      "spark.driver_only_s" -> t.driverOnlySeconds(pass),
      "pipeline.driver_only_s" -> named("pipeline.run").map(t.driverOnlySeconds).sum,
      "pipeline.unstaged_s" -> named("pipeline.run").map(t.selfSeconds).sum,
      "kb.ingest.wall_s" -> wall("kb.ingest"),
      "triples.write.wall_s" -> wall("triples.write"))
    stageNames.foreach { s =>
      val c = counters(s"stage.$s")
      m ++= Seq(s"stage.$s.wall_s" -> wall(s"stage.$s"), s"stage.$s.jobs" -> c.jobs.toDouble,
        s"stage.$s.task_skew" -> c.taskSkew,
        s"stage.$s.shuffle_write_mb" -> c.shuffleWriteB / 1048576.0)
    }
    opNames.foreach { o =>
      val c = counters(s"ops.$o")
      m ++= Seq(s"ops.$o.wall_s" -> wall(s"ops.$o"),
        s"ops.$o.task_run_s" -> c.taskRunMs / 1e3,
        s"ops.$o.driver_only_s" -> named(s"ops.$o").map(t.driverOnlySeconds).sum,
        s"ops.$o.shuffle_write_mb" -> c.shuffleWriteB / 1048576.0)
    }
    m ++= Seq("onetoone.wall_s" -> wall("onetoone"), "eval.wall_s" -> wall("eval"))
    Seq("minhash_lsh", "simhash_pairs", "jaccard_prefix").foreach { o =>
      m += s"ops.$o.recall" -> items.find(_.name == o).flatMap(_.extra.get("recall")).getOrElse(0.0)
    }
    m.result()
  }

  private def unitOf(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith(".recall")) "share"
    else if (metric.endsWith(".task_skew")) "ratio"
    else "count"

  /** A digest differing from the one recorded for its key fails the item. */
  private def checkDigest(i: Item, key: String, recorded: Map[String, String]): Item =
    (i.digest, recorded.get(key)) match {
      case (Some(d), Some(want)) if d != want =>
        i.copy(ok = false, detail = s"${i.detail}; digest $d != recorded $want")
      case _ => i
    }

  /** Recorded digests: one `key<TAB>digest` line each. */
  private def readDigests(path: Option[String]): Map[String, String] =
    path.filter(_.nonEmpty).map(Paths.get(_)).filter(Files.exists(_)).map { p =>
      Files.readAllLines(p).asScala.map(_.split("\t")).collect {
        case Array(k, v) if !k.startsWith("#") => k -> v
      }.toMap
    }.getOrElse(Map.empty)

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def processCpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    status.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
