package graft.fixtures

import graft.model.Dtype
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Seeded, fully-distributed scale generator (FIXTURES.md §4): emits a
 * docs table (interleaved text + media spans), a KB (Zipfian class
 * sizes — the skew exercise), surface forms, and the construction-truth
 * gold standard, all derived from `xxhash64(seed, ...)` so any scale is
 * reproducible without wall-clock or RNG state.
 *
 * Every web row references a KB entity; the key cell is the entity label,
 * p% of rows see a token dropped (surface-form style noise). Gold
 * standards are the construction truth, so P/R of the pipeline is
 * measurable at any scale on the same input used for throughput numbers.
 */
object ScaleGen {

  /** Generator version token for corpus-reuse markers (OpsScalingBench
    * caches generated corpora keyed on (version, params); ADVICE r6 #4).
    * BUMP THIS whenever documents()/embeddings() logic or default seeds
    * change, or a stale cached corpus is silently reused. */
  val generatorVersion = "g2"

  /** vocab must stay >> nEntities*labelTokens: web-table subject labels
    * are near-unique entity names; a tiny vocabulary creates cross-class
    * token collisions no real corpus has (and additive class weights then
    * amplify the noise — see ClassDecision semantics). */
  /** `hotToken` > 0 plants a deliberately Zipfian shared token: every
    * hotToken-th entity's label gains the literal token "hotshared", so
    * the candidate token join sees ONE key whose index df is
    * nEntities/hotToken and whose web-side occurrences scale with the
    * corpus — the pathological head key the saltHotTokenDf guard exists
    * for (the perfbench t2k_corpus workload plants it at hotToken 50).
    * Default 0: no change to any existing corpus. */
  /** `tableNamePad` > 0 pads table names with a deterministic per-table
    * hex infix of that length — real web-table corpora carry long opaque
    * file names (T2D: ~34 chars), and the shuffle-weight effect of
    * carrying the name string through hot keys only shows at realistic
    * lengths (the perfbench t2k_corpus workload uses pad 28). Default 0:
    * names stay "tblN.csv". */
  case class Config(nClasses: Int = 20, nEntities: Int = 20000,
                    nTables: Int = 200, rowsPerTable: Int = 50,
                    vocab: Int = 300000, labelTokens: Int = 3,
                    noisePct: Int = 10, mediaEvery: Int = 7, seed: Long = 42L,
                    hotToken: Int = 0, tableNamePad: Int = 0)

  /** Table name for a tableId column under `cfg` (see tableNamePad). */
  def tableNameExpr(cfg: Config, tableId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (cfg.tableNamePad > 0)
      concat(lit("tbl"),
        substring(md5(concat(lit("pad"), tableId.cast("string"))), 1,
          cfg.tableNamePad), tableId, lit(".csv"))
    else concat(lit("tbl"), tableId, lit(".csv"))

  /** Zipfian class boundaries: class k gets a share ∝ 1/(k+1). */
  private def classBoundaries(cfg: Config): Array[Long] = {
    val weights = (0 until cfg.nClasses).map(k => 1.0 / (k + 1))
    val total = weights.sum
    val sizes = weights.map(w => math.max(1L, math.round(w / total * cfg.nEntities)))
    sizes.scanLeft(0L)(_ + _).toArray
  }

  private def word(h: org.apache.spark.sql.Column, vocab: Int) =
    concat(lit("w"), pmod(h, lit(vocab)).cast("string"))

  /** Entities: (entityId, classId, uri, label, propStr, propNum, propDate). */
  def entities(spark: SparkSession, cfg: Config): DataFrame = {
    val bounds = classBoundaries(cfg)
    val classIdExpr = {
      // bucket lookup over <=nClasses boundaries — chained whens, codegen'd
      (0 until cfg.nClasses).foldLeft(lit(0)) { (acc, k) =>
        when(col("id") >= bounds(k) && col("id") < bounds(k + 1), lit(k)).otherwise(acc)
      }
    }
    val lbl0 = concat_ws(" ", (0 until cfg.labelTokens).map(s =>
      word(xxhash64(lit(cfg.seed), col("id"), lit(s)), cfg.vocab)): _*)
    val lbl = if (cfg.hotToken > 0)
      when(pmod(col("id"), lit(cfg.hotToken)) === 0,
        concat(lbl0, lit(" hotshared"))).otherwise(lbl0)
    else lbl0
    spark.range(bounds.last)
      .withColumn("classId", classIdExpr)
      .withColumn("uri", concat(lit("kb://e"), col("id")))
      .withColumn("label", lbl)
      .withColumn("propStr", concat_ws(" ",
        word(xxhash64(lit(cfg.seed), col("id"), lit(100)), cfg.vocab),
        word(xxhash64(lit(cfg.seed), col("id"), lit(101)), cfg.vocab)))
      // heavy-tailed numerics (log-uniform over 5 decades): KB quantities
      // (population, area, counts) are power-law — and the blocker's
      // kurtosis >= 2 gate (reference semantics) requires heavy tails.
      .withColumn("propNum",
        floor(pow(lit(10.0),
          pmod(xxhash64(lit(cfg.seed), col("id"), lit(200)), lit(5000L))
            .cast("double") / 1000.0) + 1).cast("long").cast("string"))
      .withColumn("propDate", date_format(date_add(lit("1950-01-01"),
        pmod(xxhash64(lit(cfg.seed), col("id"), lit(300)), lit(25000L)).cast("int")),
        "yyyy-MM-dd"))
      .withColumnRenamed("id", "entityId")
  }

  /** KB long-form (for KbIngest.fromLongForm) + hierarchy. Non-label
    * properties are CLASS-SCOPED URIs (kb://prop/str/class3): DBpedia
    * properties are mostly class-specific, and property->class ownership
    * is the signal class refinement runs on (ClassRefinement semantics). */
  def kbLongForm(spark: SparkSession, cfg: Config): DataFrame = {
    val e = entities(spark, cfg)
    val props = Seq(
      ("str", "strprop", "propStr"), ("num", "numprop", "propNum"),
      ("date", "dateprop", "propDate"))
    val label = e.select(concat(lit("class"), col("classId")).as("className"),
      lit(Dtype.RdfsLabelUri).as("propUri"), lit("label").as("propHeader"),
      col("uri"), col("label").as("rawValue"))
    props.map { case (kind, header, valCol) =>
      e.select(concat(lit("class"), col("classId")).as("className"),
        concat(lit(s"kb://prop/$kind/class"), col("classId")).as("propUri"),
        lit(header).as("propHeader"),
        col("uri"), col(valCol).as("rawValue"))
    }.foldLeft(label)(_ unionByName _)
  }

  def hierarchy(cfg: Config): Seq[(String, String)] =
    (0 until cfg.nClasses).map(k => s"class$k" -> "root")

  /** Surface forms: every entity gets its label minus the last token as an
    * alternative name — mirrors DBpedia's comprehensive redirect corpus
    * (the reference merges redirects into the same dictionary,
    * SurfaceForms.java:126-170), and is exactly the noise webCorpus
    * injects into 10% of key cells. */
  def surfaceForms(spark: SparkSession, cfg: Config): DataFrame = {
    entities(spark, cfg)
      .select(lower(col("label")).as("label"),
        concat_ws(" ", slice(split(col("label"), " "), 1, cfg.labelTokens - 1))
          .as("surfaceForm"))
  }

  /**
   * LLM-ops document corpus at arbitrary scale: each doc carries 8 head
   * tokens drawn LOG-UNIFORMLY from a 1000-word vocabulary (Zipf-style
   * head — word 1 lands in ~2/3 of all docs, the degenerate-frequency
   * exercise every dfCap/bucketCap/prefix-order mechanism exists for)
   * plus 32 near-unique tail tokens keyed by the doc's group. Every doc
   * with id % 10 == 1 is a PLANTED near-dup twin of doc id-1: same group
   * (identical head + 30 shared tail tokens) with 2 tail tokens replaced
   * — Jaccard between 30/34 ≈ 0.88 and 38/42 ≈ 0.90, so threshold 0.8
   * yields exactly the ~nDocs/10 planted pairs, while non-twin pairs
   * share only head words (J ≈ 0.01). Pure hash expressions: any scale,
   * bit-reproducible, generated distributed.
   */
  def documents(spark: SparkSession, nDocs: Long, seed: Long = 42L): DataFrame = {
    val twin = pmod(col("id"), lit(10)) === 1
    val grp = when(twin, col("id") - 1).otherwise(col("id"))
    def nn(c: org.apache.spark.sql.Column) = pmod(c, lit(1000000000000000000L))
    // log-uniform head: word = floor(1000^u), u uniform in [0,1)
    val head = (0 until 8).map { j =>
      concat(lit("h"), floor(pow(lit(1000.0),
        pmod(xxhash64(lit(seed), grp, lit(1000 + j)), lit(1000000L))
          .cast("double") / 1000000.0)).cast("long").cast("string"))
    }
    val tail = (0 until 32).map { j =>
      val base = nn(xxhash64(lit(seed), grp, lit(j)))
      val perturbed = if (j >= 30)
        when(twin, nn(xxhash64(lit(seed), col("id"), lit(9000 + j)))).otherwise(base)
      else base
      concat(lit("t"), perturbed.cast("string"))
    }
    spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", (head ++ tail): _*).as("text"))
  }

  /** LLM-ops embedding corpus: nVecs float vectors clustered around
    * nCenters hash-derived centers (components in [-1, 1)) with small
    * per-vector noise — the shape IVF coarse quantisation exploits.
    * Pure expressions, any scale, bit-reproducible. */
  def embeddings(spark: SparkSession, nVecs: Long, dim: Int = 64,
                 nCenters: Int = 128, seed: Long = 42L): DataFrame = {
    val cent = pmod(xxhash64(lit(seed), col("id"), lit(7)), lit(nCenters.toLong))
    val vec = transform(sequence(lit(0), lit(dim - 1)), j =>
      (pmod(xxhash64(lit(seed), cent, j, lit(11)), lit(2000L)).cast("double")
        / 1000.0 - 1.0) +
      (pmod(xxhash64(lit(seed), col("id"), j, lit(13)), lit(200L)).cast("double")
        / 1000.0 - 0.1))
    spark.range(nVecs).select(col("id").as("vec_id"),
      vec.cast("array<float>").as("embedding"))
  }

  /** Web-table docs + gold standards. Tables are Zipf-assigned to classes
    * (skewed big classes get most tables — the hot-key exercise). */
  def webCorpus(spark: SparkSession, cfg: Config): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val bounds = classBoundaries(cfg)
    val e = entities(spark, cfg)
    // table t -> class via Zipf over tables too (hash-mixed)
    val tables = spark.range(cfg.nTables)
      .withColumn("tableClass",
        pmod(pmod(xxhash64(lit(cfg.seed), col("id"), lit(500)), lit(1000)) *
          pmod(xxhash64(lit(cfg.seed), col("id"), lit(501)), lit(1000)),
          lit(cfg.nClasses)).cast("int"))
      .withColumnRenamed("id", "tableId")
    // rows: pick entity within the table's class deterministically
    val rows = tables.join(spark.range(cfg.rowsPerTable).withColumnRenamed("id", "rowNum"))
    val boundsLo = udf((c: Int) => bounds(c))
    val boundsHi = udf((c: Int) => bounds(c + 1))
    val withEntity = rows
      .withColumn("lo", boundsLo(col("tableClass")))
      .withColumn("span", boundsHi(col("tableClass")) - col("lo"))
      .withColumn("entityId", col("lo") +
        pmod(xxhash64(lit(cfg.seed), col("tableId"), col("rowNum")), col("span")))
      .join(e, "entityId")
      .withColumn("tableName", tableNameExpr(cfg, col("tableId")))
      .withColumn("noisy",
        pmod(xxhash64(lit(cfg.seed), col("tableId"), col("rowNum"), lit(600)),
          lit(100)) < cfg.noisePct)
      .withColumn("keyText", when(col("noisy"),
        concat_ws(" ", slice(split(col("label"), " "), 1, cfg.labelTokens - 1)))
        .otherwise(col("label")))

    val span = (kind: org.apache.spark.sql.Column, text: org.apache.spark.sql.Column,
                media: org.apache.spark.sql.Column, off: Int) =>
      struct(kind.as("kind"), text.as("text"), media.as("media_ref"),
        lit(off).as("offset"))
    val nullS = lit(null).cast(StringType)
    val hasMedia = pmod(col("rowNum"), lit(cfg.mediaEvery)) === 0
    val rowDocs = withEntity.select(
      concat(col("tableName"), lit("#r"), col("rowNum")).as("doc_id"),
      when(hasMedia,
        array(span(lit("text"), col("keyText"), nullS, 0),
          span(lit("text"), col("propStr"), nullS, 1),
          span(lit("text"), col("propNum"), nullS, 2),
          span(lit("text"), col("propDate"), nullS, 3),
          span(lit("media"), nullS, concat(lit("media://"), col("tableName"),
            lit("/"), col("rowNum")), 4)))
        .otherwise(array(span(lit("text"), col("keyText"), nullS, 0),
          span(lit("text"), col("propStr"), nullS, 1),
          span(lit("text"), col("propNum"), nullS, 2),
          span(lit("text"), col("propDate"), nullS, 3))).as("spans"))
    val headerDocs = tables.select(
      concat(tableNameExpr(cfg, col("tableId")), lit("#h")).as("doc_id"),
      array(span(lit("header"), lit("name"), nullS, 0),
        span(lit("header"), lit("strprop"), nullS, 1),
        span(lit("header"), lit("numprop"), nullS, 2),
        span(lit("header"), lit("dateprop"), nullS, 3)).as("spans"))
    val docs = rowDocs.unionByName(headerDocs)

    val gsInstance = withEntity.select(col("tableName"),
      col("rowNum").cast("int").as("rowNum"), col("uri"))
    val gsClass = tables.select(tableNameExpr(cfg, col("tableId")).as("tableName"),
      concat(lit("class"), col("tableClass")).as("className"))
    val gsProperty = tables.select(
        tableNameExpr(cfg, col("tableId")).as("tableName"),
        col("tableClass"))
      .select(col("tableName"), explode(array(
        struct(lit(0).as("colIdx"), lit(Dtype.RdfsLabelUri).as("propUri")),
        struct(lit(1).as("colIdx"),
          concat(lit("kb://prop/str/class"), col("tableClass")).as("propUri")),
        struct(lit(2).as("colIdx"),
          concat(lit("kb://prop/num/class"), col("tableClass")).as("propUri")),
        struct(lit(3).as("colIdx"),
          concat(lit("kb://prop/date/class"), col("tableClass")).as("propUri")))).as("p"))
      .select(col("tableName"), col("p.colIdx").as("colIdx"),
        col("p.propUri").as("propUri"))
    (docs, gsInstance, gsProperty, gsClass)
  }
}
