package graft.kb

import graft.checkpoint.Materialize
import graft.model.Dtype
import graft.text.Normalize
import graft.util.Udfs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * LOD-CSV table in the reference's on-disk shape
 * (/root/reference .../t2k/match/data/KnowledgeBase.java:122-305): header
 * rows = column names / property URIs / XSD type names; col 0 = entity URI,
 * col 1 must be rdfs:label for the table to participate
 * (KnowledgeBase.java:149-151). Values may be multi-valued "{a|b}" and
 * "NULL" means null.
 */
case class LodTable(className: String, headers: Seq[String],
                    propUris: Seq[String], xsdTypes: Seq[String],
                    rows: Seq[Seq[String]])

/**
 * KB ingest implementing SURVEY.md §1.4 as DataFrame transforms:
 *  - global integer property ids (rdfs:label fixed at id 0), replacing the
 *    reference's per-class propertyIndices translation maps
 *    (KnowledgeBase.java:191-223) by keying KB cells on the global id;
 *  - duplicate-property columns collapse (label-twin preference,
 *    KnowledgeBase.java:159-175) — last column with a given propUri wins;
 *  - most-specific-class dedup of entities via hierarchy depth
 *    (KnowledgeBase.java:225-256);
 *  - classWeight = 1 - size/maxSize (KnowledgeBase.java:341-364);
 *  - per-property value-majority dtype inference and per-class dims.
 *
 * Output tables (see FIXTURES.md §2): cells (typed by [[values]] into the
 * `kb_cells` stage), kb_props, kb_classes. At cluster scale
 * kb_cells is written partitioned by classId (Zipfian class sizes —
 * partition pruning + AQE skew handling).
 */
object KbIngest {
  val RdfsLabelPropId = 0

  case class Ingested(cells: DataFrame, props: DataFrame, classes: DataFrame,
                      propsByClass: DataFrame)

  private val datePat = graft.util.SafeCast.datePat
  private val numPat = graft.util.SafeCast.numPat

  /** depth(class) via walking hierarchy edges to the root (tiny, driver). */
  def depths(hierarchy: Seq[(String, String)]): Map[String, Int] = {
    val parent = hierarchy.toMap
    def depth(c: String, seen: Set[String]): Int =
      parent.get(c) match {
        case Some(p) if !seen(c) => 1 + depth(p, seen + c)
        case _ => 0
      }
    (parent.keySet ++ parent.values).map(c => c -> depth(c, Set.empty)).toMap
  }

  def fromLodTables(spark: SparkSession, tables: Seq[LodTable],
                    hierarchy: Seq[(String, String)]): Ingested = {
    import spark.implicits._
    // the CLI path's long-form rule (LodParse.tableCells), over in-memory tables
    val long = tables.flatMap(t => LodParse.tableCells(t.className, t.headers,
      t.propUris, t.xsdTypes, t.rows.iterator)).toDF()
    fromLongForm(spark, long, hierarchy)
  }

  /** Core ingest over the long form — fully distributed. Its reused
    * frames go through [[Materialize]]: localCheckpoint blocks on a local
    * master, which the ContextCleaner reclaims with the frames. On a
    * non-local master they are persisted, and they stay owned by the
    * caller that holds the [[Ingested]], because one KB serves many
    * corpora: ingest inside [[Materialize.scoped]] to release them. */
  def fromLongForm(spark: SparkSession, longIn: DataFrame,
                   hierarchy: Seq[(String, String)]): Ingested = {
    import spark.implicits._
    val depthMap = depths(hierarchy)
    val depthUdf = udf((c: String) => depthMap.getOrElse(c, 0))
    // producers without declared types (synthetic corpora) omit xsdType
    val long0 =
      if (longIn.columns.contains("xsdType")) longIn
      else longIn.withColumn("xsdType", lit(null).cast("string"))

    // The per-class schema comes from the header block (schema marker rows,
    // uri null) UNION the data rows' metadata: a property exists even when
    // every dump value is NULL (reference KnowledgeBase.java:195-223).
    val schemaDim = Materialize(long0
      .select("className", "propUri", "propHeader", "xsdType").distinct())

    // Multi-value "{a|b}" split. Materialised: the prop-dim aggregation,
    // the dedup window and the class-size count all consume it — without
    // the barrier each driver collect below re-runs the full upstream scan.
    val long = Materialize(long0
      .filter(col("uri").isNotNull)
      .withColumn("value", explode(split(regexp_replace(col("rawValue"), "[{}]", ""), "\\|")))
      .filter(col("value") =!= "" && col("value") =!= "NULL")
      .drop("rawValue"))

    // Global property ids: deterministic (sorted URI), rdfs:label -> 0.
    // dtype: the DECLARED type from the dump's 3rd header row wins (the
    // reference parses these, LodCsvTableParser via KnowledgeBase.java:127);
    // value-majority inference is the fallback for unknown/absent tokens.
    val xsdDtypeUdf = udf((t: String) => LodParse.xsdToDtype(t))
    val valueStats = long.groupBy("propUri")
      .agg(count(when(col("value").rlike(numPat), 1)).as("nNum"),
        count(when(col("value").rlike(datePat), 1)).as("nDate"),
        count(lit(1)).as("n"))
    // Deterministic picks: two class files can declare conflicting headers
    // or xsd types for the same propUri; first() over an unordered distinct
    // would flip typed-comparator dispatch across runs. Header: min (skips
    // nulls). Declared dtype: majority vote, ties broken lexicographically.
    val declPick = schemaDim
      .withColumn("declared", xsdDtypeUdf(col("xsdType")))
      .filter(col("declared").isNotNull)
      .groupBy("propUri", "declared").agg(count(lit(1)).as("nDecl"))
      .withColumn("rk", row_number().over(Window.partitionBy("propUri")
        .orderBy(col("nDecl").desc, col("declared").asc)))
      .filter(col("rk") === 1).select("propUri", "declared")
    // "_label" twin columns carry the OBJECT property's URI (LodParse
    // keepColumns keeps the twin), so the property's matching NAME is the
    // base column name: "language_label" -> "language". Without the strip
    // the suffix deflates every label-GSJ score for object properties
    // (measured on T2D: GSJ(header "language", "language label") = 0.5,
    // below junk matches like longName at 0.625 — the reference pair lost
    // the column). The strip is CONDITIONED on the stripped base matching
    // the propUri's local name (case-insensitive): a genuine property
    // whose header legitimately ends in "_label" (record_label) keeps its
    // full header — only the twin-derived "<localName>_label" shape is
    // collapsed.
    val hdrBase = regexp_replace(col("propHeader"), "_label$", "")
    val localName = element_at(split(col("propUri"), "/"), -1)
    val propDim = schemaDim.groupBy("propUri")
      .agg(min(when(lower(hdrBase) === lower(localName), hdrBase)
        .otherwise(col("propHeader"))).as("header"))
      .join(declPick, Seq("propUri"), "left")
      .join(valueStats, Seq("propUri"), "left")
      .withColumn("dtype",
        when(col("propUri") === Dtype.RdfsLabelUri, Dtype.String)
          .when(col("declared").isNotNull, col("declared"))
          .when(col("nDate") * 2 > col("n"), Dtype.Date)
          .when(col("nNum") * 2 > col("n"), Dtype.Numeric)
          .otherwise(Dtype.String))
    // NOTE: nNum counts date-pattern matches too (years are numeric-shaped);
    // nDate wins first so year-only props land on 'date' like web columns.
    // Dim is small (hundreds of properties): id assignment on driver, then
    // broadcast-joined back.
    val propRows = propDim.select("propUri", "header", "dtype").as[(String, String, String)]
      .collect().sortBy(_._1)
    val ids = {
      val others = propRows.filter(_._1 != Dtype.RdfsLabelUri)
      (propRows.filter(_._1 == Dtype.RdfsLabelUri).map(r => (r._1, r._2, r._3, RdfsLabelPropId)) ++
        others.zipWithIndex.map { case ((u, h, d), i) => (u, h, d, i + 1) }).toSeq
    }
    val props = ids.toDF("propUri", "header", "dtype", "propId")
      .select("propId", "propUri", "header", "dtype")

    // Most-specific-class dedup: keep each uri only under its deepest
    // class. For unrelated classes tying on depth the reference's
    // last-loaded file wins (KnowledgeBase.java:225-256 replaces the
    // record unless the current class is an ancestor of the kept one) —
    // files load alphabetically, so the tie-break is className DESC.
    val ranked = long
      .withColumn("classDepth", depthUdf(col("className")))
      .withColumn("keepClass", first(col("className")).over(
        Window.partitionBy(col("uri"))
          .orderBy(col("classDepth").desc, col("className").desc)))
      .filter(col("className") === col("keepClass")).drop("keepClass", "classDepth")

    // Class ids: deterministic by name; superclasses with no data file are
    // still registered (KnowledgeBase.java:272-289). Participation comes
    // from the header block (schema rows), not from data presence.
    val dataClasses = schemaDim.select("className").distinct().as[String].collect().toSet
    val allClasses = (dataClasses ++ depthMap.keySet).toSeq.sorted
    val classIdMap = allClasses.zipWithIndex.toMap
    val parent = hierarchy.toMap
    val classIdUdf = udf((c: String) => classIdMap(c))

    // Lazy: the pipeline's one consumer is its kb_cells stage barrier.
    val cells = ranked
      .join(broadcast(props.select("propUri", "propId", "dtype")), "propUri")
      .withColumn("classId", classIdUdf(col("className")))
      .select("classId", "className", "uri", "propId", "value", "dtype")

    // Class sizes for the popularity prior use the PRE-DEDUP table sizes
    // (reference sizePerTable.put(tblIdx, tDBp.getSize()),
    // KnowledgeBase.java:257): an entity counts for every class file it
    // appears in.
    val sizes = long.filter(col("propUri") === Dtype.RdfsLabelUri)
      .groupBy("className").agg(countDistinct("uri").as("size"))
      .as[(String, Long)].collect().toMap
    val maxSize = if (sizes.isEmpty) 1L else math.max(sizes.values.max, 1L)
    val classes = allClasses.map { c =>
      val sz = sizes.getOrElse(c, 0L)
      (classIdMap(c), c, parent.getOrElse(c, null),
        sz, 1.0 - sz.toDouble / maxSize)
    }.toDF("classId", "className", "superClass", "size", "classWeight")

    // Per-class property ownership from the header block — includes
    // valueless properties, which value-derived dims would silently lose.
    val propsByClass = schemaDim.select("className", "propUri")
      .join(props.select("propUri", "propId", "dtype"), "propUri")
      .withColumn("classId", classIdUdf(col("className")))
      .select("classId", "propId", "dtype").distinct()

    Ingested(cells, props, classes, propsByClass)
  }

  /** The `kb_cells` stage, surface forms expanded once (S5,
    * DBpediaIndexer.java:67-70): each KB value with its operands
    * ([[Udfs.operands]]) and `viaSf = false`, plus, per surface form whose
    * normalised label equals a value's `valueNorm`, that value's row with
    * the surface form as `value`, its own operands and `viaSf = true`.
    * Identity resolution and triples drop the `viaSf` rows. */
  def values(cells: DataFrame, surfaceForms: DataFrame): DataFrame = {
    def typed(df: DataFrame, viaSf: Boolean): DataFrame =
      df.select(col("*") +: Udfs.operands("value") :+ lit(viaSf).as("viaSf"): _*)
    val own = typed(cells, viaSf = false)
    val byLabel = surfaceForms.select(
      Normalize.normaliseCol(col("label")).as("labelNorm"), col("surfaceForm"))
    val alts = own.join(byLabel, col("valueNorm") === col("labelNorm"))
      .select(cells.columns.toSeq.map(c =>
        if (c == "value") col("surfaceForm").as(c) else col(c)): _*)
    own.unionByName(typed(alts, viaSf = true))
  }
}
