package perfbench

import graft.eval.Evaluator
import graft.fixtures.ScaleGen
import graft.kb.KbIngest
import graft.onetoone.{OneToOne, SimilarityFlooding}
import graft.ops.{Dedup, Multimodal, SimSearch, TextAnalysis}
import graft.pipeline.{T2KPipeline, T2KResult}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal

/** Outcome of one checked item: a pipeline pass, a step on its result or an op. */
final case class Item(name: String, wallS: Double, ok: Boolean,
                      detail: String = "", digest: Option[String] = None,
                      extra: Map[String, Double] = Map.empty)

/** What one item's body reports back: whether its output check held. */
final case class Outcome(ok: Boolean, detail: String, digest: Option[String] = None,
                         extra: Map[String, Double] = Map.empty)

trait Workload {
  def name: String
  /** Generates this run's inputs from the seed. */
  def prepare(spark: SparkSession, seed: Long, scope: Scope): Unit
  /** One timed pass on this run's inputs. */
  def pass(spark: SparkSession, scope: Scope): Seq[Item]
  /** Digest key of an item: workload, generator version, seed and size. */
  def digestKey(item: String): String
}

object Workload {
  def apply(name: String, dataRoot: String): Workload = name match {
    case "t2k_corpus" => new T2kCorpus(dataRoot)
    case "ops_corpus" => new OpsCorpus(dataRoot)
    case other => sys.error(s"unknown workload '$other'")
  }

  /** Runs `body` as one item in span `span`: its wall covers the work and
    * the output check; a throw or a failed check makes it a failure. */
  def item(scope: Scope, name: String, span: String)(body: => Outcome): Item = {
    val t0 = System.nanoTime()
    try {
      val o = scope(span)(body)
      Item(name, (System.nanoTime() - t0) / 1e9, o.ok, o.detail, o.digest, o.extra)
    } catch {
      case NonFatal(e) =>
        Item(name, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
  }
}

/** Generated inputs: rewritten by every run, so set-up time does not
  * depend on what earlier runs left behind. */
object Inputs {
  def write(dir: Path)(body: String => Unit): Unit = {
    deleteTree(dir)
    Files.createDirectories(dir)
    body(dir.toString)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/**
 * The flagship pipeline on a generated web-table corpus: Zipfian class
 * sizes, one planted heavy-hitter label token and T2D-length table names.
 * Each pass reads the parquet inputs, ingests the KB, runs
 * T2KPipeline.run, writes the triples and checks instance, schema and
 * class P/R against the generator's construction truth. Two more items
 * work on the pipeline's result: the one-to-one matchers on its schema
 * score matrix, and the evaluator on its instance and schema
 * correspondences.
 */
final class T2kCorpus(dataRoot: String) extends Workload {
  val name = "t2k_corpus"
  private val minPR = 0.95

  // 50 rows per table: at 25 (the ScaleSpec size) schema recall falls
  // below the gate on some seeds (0.9375 on seed 4)
  private def config(seed: Long) = ScaleGen.Config(nEntities = 5000,
    nTables = 40, rowsPerTable = 50, vocab = 100000, hotToken = 50,
    tableNamePad = 28, seed = seed)

  private final class Input(spark: SparkSession, val cfg: ScaleGen.Config, scope: Scope) {
    val dir: Path = Paths.get(dataRoot, name)
    private val (docs, gsInstance, gsProperty, gsClass) = ScaleGen.webCorpus(spark, cfg)
    Inputs.write(dir) { d =>
      scope("gen.docs")(docs.write.parquet(s"$d/docs"))
      scope("gen.kb_long")(ScaleGen.kbLongForm(spark, cfg).write.parquet(s"$d/kb_long"))
      scope("gen.surface_forms")(
        ScaleGen.surfaceForms(spark, cfg).write.parquet(s"$d/surface_forms"))
      scope("gen.gold")(Seq("gold_instance" -> gsInstance, "gold_schema" -> gsProperty,
        "gold_class" -> gsClass).foreach { case (t, df) => df.write.parquet(s"$d/$t") })
    }
    private def rows(t: String): Set[String] = read(t).collect().map(_.mkString("|")).toSet
    val (goldInstance, goldSchema, goldClass) =
      (rows("gold_instance"), rows("gold_schema"), rows("gold_class"))
    def read(t: String): DataFrame = spark.read.parquet(s"$dir/$t")
  }

  /** A pipeline result and the correspondence sets its check collected. */
  private final case class PipelineOut(result: T2KResult, instance: DataFrame,
                                       schema: DataFrame, instanceRows: Set[String],
                                       schemaRows: Set[String])

  private var run: Input = _

  def prepare(spark: SparkSession, seed: Long, scope: Scope): Unit =
    run = new Input(spark, config(seed), scope)

  def digestKey(item: String): String =
    s"$name/${ScaleGen.generatorVersion}/seed${run.cfg.seed}/docs${run.cfg.nTables * run.cfg.rowsPerTable}/$item"

  def pass(spark: SparkSession, scope: Scope): Seq[Item] = {
    var out: Option[PipelineOut] = None
    val pipeline = pipelineItem(spark, scope, run, r => out = Some(r))
    pipeline +: out.toSeq.flatMap { r =>
      try Seq(oneToOneItem(scope, r), evalItem(scope, r, run))
      finally r.result.release()
    }
  }

  private def prf(pred: Set[String], gold: Set[String]): (Double, Double) = {
    val tp = pred.count(gold.contains).toDouble
    (if (pred.isEmpty) 0.0 else tp / pred.size, if (gold.isEmpty) 0.0 else tp / gold.size)
  }

  private def strings(df: DataFrame): Set[String] = df.collect().map(_.mkString("|")).toSet

  private def pipelineItem(spark: SparkSession, scope: Scope, in: Input,
                           keep: PipelineOut => Unit): Item =
    Workload.item(scope, "pipeline", "t2k.pass") {
      val hierarchy = ScaleGen.hierarchy(in.cfg)
      val kb = scope("kb.ingest")(
        KbIngest.fromLongForm(spark, in.read("kb_long"), hierarchy))
      val result = scope("pipeline.run")(T2KPipeline.run(in.read("docs"), kb,
        in.read("surface_forms"), hierarchy.toMap, ckpt = scope.checkpointer))
      val out = in.dir.resolve("triples_out").toString
      scope("triples.write")(result.triples.write.mode("overwrite").parquet(out))
      scope("check") {
        val instance = result.instanceCorrs.select("tableName", "rowNum", "uri")
        val schema = result.schemaCorrs
          .join(kb.props.select("propId", "propUri"), "propId")
          .select("tableName", "colIdx", "propUri")
        val inst = strings(instance)
        val sch = strings(schema)
        val cls = strings(result.classCorrs.select("tableName", "className"))
        val triples = spark.read.parquet(out).collect().map(_.mkString("|")).toSeq
        keep(PipelineOut(result, instance, schema, inst, sch))
        val checks = Seq("instance" -> prf(inst, in.goldInstance),
          "schema" -> prf(sch, in.goldSchema), "class" -> prf(cls, in.goldClass))
        val bad = checks.filter { case (_, (p, r)) => p < minPR || r < minPR }
        val detail = checks.map { case (k, (p, r)) => f"$k P=$p%.4f R=$r%.4f" }
          .mkString(", ") + s", triples=${triples.size}"
        Outcome(bad.isEmpty && triples.nonEmpty, detail,
          Some(Seq(Digest.ofRows(inst), Digest.ofRows(sch), Digest.ofRows(cls),
            Digest.ofRows(triples)).mkString(";")))
      }
    }

  /** Hungarian 1:1 and similarity flooding (formula A, stable marriage)
    * per table on the pipeline's combined schema scores. Each output must
    * be one-to-one within its table and keep only pairs of the matrix. */
  private def oneToOneItem(scope: Scope, r: PipelineOut): Item =
    Workload.item(scope, "onetoone", "onetoone") {
      val matrix = r.result.schemaCombined.select(col("tableName").as("groupKey"),
        col("colIdx").as("left"), col("propId").as("right"), col("score"))
      def edges(df: DataFrame) = df.select(col("groupKey").cast("string"),
          col("left").cast("int"), col("right").cast("int"), col("score").cast("double"))
        .collect().map(x => (x.getString(0), x.getInt(1), x.getInt(2), x.getDouble(3))).toSeq
      val cells = edges(matrix).map(e => (e._1, e._2, e._3)).toSet
      val hungarian = edges(OneToOne.filterPerGroup(matrix, "hungarian"))
      val flooded = edges(SimilarityFlooding.run(matrix, "A", 0.1, "stable"))
      def oneToOne(es: Seq[(String, Int, Int, Double)]) =
        es.map(e => (e._1, e._2)).distinct.size == es.size &&
          es.map(e => (e._1, e._3)).distinct.size == es.size &&
          es.forall(e => cells.contains((e._1, e._2, e._3)))
      val groups = cells.map(_._1).size
      Outcome(oneToOne(hungarian) && oneToOne(flooded) &&
          hungarian.map(_._1).distinct.size == groups,
        s"cells=${cells.size} tables=$groups hungarian=${hungarian.size} sf=${flooded.size}",
        Some(Seq(hungarian.map(e => f"${e._1}|${e._2}|${e._3}|${e._4}%.6f"),
          flooded.map(e => f"${e._1}|${e._2}|${e._3}|${e._4}%.4f"))
          .map(Digest.ofRows).mkString(";")))
    }

  /** Evaluator P/R of the instance and schema correspondences, which must
    * agree with the counts the pipeline's own check made. */
  private def evalItem(scope: Scope, r: PipelineOut, in: Input): Item =
    Workload.item(scope, "eval", "eval") {
      val got = Seq(
        Evaluator.evaluate(r.instance, in.read("gold_instance"), Seq("tableName", "rowNum", "uri")),
        Evaluator.evaluate(r.schema, in.read("gold_schema"), Seq("tableName", "colIdx", "propUri")))
      val want = Seq(r.instanceRows -> in.goldInstance, r.schemaRows -> in.goldSchema).map {
        case (pred, gold) => Evaluator.PRF(pred.count(gold.contains), pred.size, gold.size)
      }
      Outcome(got == want, got.map(p => s"tp=${p.tp}/${p.predicted}/${p.gold}").mkString(" "),
        Some(got.map(p => s"${p.tp}|${p.predicted}|${p.gold}").mkString(";")))
    }
}

/**
 * The training-data operators on generated documents with planted
 * near-duplicate twins (every doc with id % 10 == 1 is a twin of id - 1)
 * and clustered embeddings. Each op is one item; the twins fix the
 * expected pair set, so each op's output is checked exactly. The
 * multimodal item decodes one synthetic image, audio or video payload
 * per document.
 */
final class OpsCorpus(dataRoot: String) extends Workload {
  val name = "ops_corpus"
  private val nDocs = 3000L
  private val nVecs = 3000L
  private val nQueries = 100L
  private val nCells = 16
  private val k = 10

  private final class Input(spark: SparkSession, val seed: Long, scope: Scope) {
    val dir: Path = Paths.get(dataRoot, name)
    Inputs.write(dir) { d =>
      scope("gen.docs")(ScaleGen.documents(spark, nDocs, seed).write.parquet(s"$d/docs"))
      scope("gen.embeddings")(
        ScaleGen.embeddings(spark, nVecs, seed = seed).write.parquet(s"$d/embeddings"))
    }
    def docs: DataFrame = spark.read.parquet(s"$dir/docs")
    def embeddings: DataFrame = spark.read.parquet(s"$dir/embeddings")
    val planted: Set[(Long, Long)] =
      (1L until nDocs by 10L).map(i => (i - 1, i)).toSet
    /** Docs sharing 13-grams with the benchmark side (ids % 100 == 0):
      * exactly each benchmark doc's twin. */
    val contaminated: Set[Long] = (1L until nDocs by 100L).toSet
  }

  private var run: Input = _

  def prepare(spark: SparkSession, seed: Long, scope: Scope): Unit =
    run = new Input(spark, seed, scope)

  def digestKey(item: String): String =
    s"$name/${ScaleGen.generatorVersion}/seed${run.seed}/docs${nDocs}/$item"

  def pass(spark: SparkSession, scope: Scope): Seq[Item] = onePass(scope, run)

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id1").cast("long"), col("id2").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def pairOutcome(found: Set[(Long, Long)], in: Input, exact: Boolean): Outcome = {
    val hit = found.count(in.planted.contains)
    val recall = hit.toDouble / in.planted.size
    val ok = if (exact) found == in.planted else hit == found.size
    Outcome(ok, f"pairs=${found.size} planted=${in.planted.size} recall=$recall%.4f",
      Some(Digest.ofRows(found.map { case (a, b) => s"$a|$b" })), Map("recall" -> recall))
  }

  private def rowsOutcome(df: DataFrame, expected: Long): Outcome = {
    val (n, digest) = Digest.ofFrame(df)
    Outcome(n == expected, s"rows=$n expected=$expected", Some(digest))
  }

  private def onePass(scope: Scope, in: Input): Seq[Item] = {
    def op(name: String)(body: => Outcome): Item =
      Workload.item(scope, name, s"ops.$name")(body)
    Seq(
      op("minhash_lsh")(pairOutcome(
        pairs(Dedup.minhashLsh(in.docs, "doc_id", "text", 0.8)), in, exact = false)),
      op("jaccard_prefix")(pairOutcome(
        pairs(Dedup.jaccardPairsPrefix(in.docs, "doc_id", "text", 0.8)), in, exact = true)),
      op("simhash_pairs")(pairOutcome(
        pairs(Dedup.simhashPairs(in.docs, "doc_id", "text")), in, exact = false)),
      op("contaminated") {
        val all = in.docs
        val rows = Dedup.contaminated(all.filter(col("doc_id") % 100 =!= 0), "doc_id",
          "text", all.filter(col("doc_id") % 100 === 0), "doc_id", "text")
          .select(col("docId").cast("long"), col("n_bench_docs").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val ids = rows.map(_._1).toSet
        Outcome(ids == in.contaminated && rows.forall(_._2 == 1L),
          s"docs=${ids.size} expected=${in.contaminated.size}",
          Some(Digest.ofRows(rows.map { case (a, b) => s"$a|$b" })))
      },
      op("quality")(rowsOutcome(TextAnalysis.quality(in.docs), nDocs)),
      op("lang_id")(rowsOutcome(TextAnalysis.langId(in.docs), nDocs)),
      op("repetition")(rowsOutcome(TextAnalysis.repetition(in.docs), nDocs)),
      op("multimodal") {
        val feats = Multimodal.extractFeatures(
          Multimodal.syntheticMedia(in.docs, "doc_id"), buckets = 8).toDF()
        val (n, digest) = Digest.ofFrame(feats)
        val bad = feats.filter(!col("ok") || size(col("feature")) === 0).count()
        Outcome(n == nDocs && bad == 0, s"rows=$n expected=$nDocs undecoded=$bad", Some(digest))
      },
      op("ivf_topk") {
        val cents = SimSearch.trainCentroids(in.embeddings, "vec_id", "embedding",
          nCells)
        rowsOutcome(SimSearch.ivfTopK(in.embeddings.filter(col("vec_id") < nQueries),
          in.embeddings, "vec_id", "embedding", k, cents),
          nQueries * k)
      })
  }
}
