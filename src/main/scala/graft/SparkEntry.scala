package graft

import graft.eval.Evaluator
import graft.fixtures.MicroCorpus
import graft.kb.KbIngest
import graft.onetoone.{OneToOne, SimilarityFlooding}
import graft.ops.{Dedup, Multimodal, SimSearch, TextAnalysis}
import graft.pipeline.{Candidates, Classes, Keys, Schema, T2KPipeline}
import graft.triples.Canonicalizer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/**
 * Driver contract (see builder prompt): `queries` exposes one entry per
 * implemented operator family (SURVEY.md §2 + training-data ops);
 * `oracleSql` carries the DuckDB-equivalent SQL over the same parquet
 * tables. Entries without SQL-expressible semantics (hash-based LSH,
 * full pipeline) are rows-only checks.
 *
 * Output column naming: lowercase snake_case on BOTH sides (DuckDB
 * lowercases unquoted aliases); double-valued outputs that aggregate data
 * doubles are rounded to dodge last-ulp summation-order differences;
 * int-derived ratios are left exact (bit-identical in both engines).
 */
object SparkEntry {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Parity-artifact paths for `q_reference_parity` (env-overridable; the
    * defaults are this sandbox's layout). Both the Spark entry and the
    * generated DuckDB oracle interpolate the SAME values, so overriding
    * the env re-points both engines consistently. The default "ours" is
    * the two-provenance union artifact (shipped-config top-1 ∪
    * label-state 1:1 emission — T2KMain --parity-ref), which reaches the
    * matrix-level structural ceiling R = 165/183 = 0.9016 vs the
    * reference's emitted artifact; provenance + per-pair accounting in
    * BENCH/reference_parity.md. */
  private def parityOursCsv: String = sys.env.getOrElse("GRAFT_PARITY_OURS",
    "/root/repo/BENCH/t2d_union_parity_correspondences.csv")
  private def parityRefCsv: String = sys.env.getOrElse("GRAFT_PARITY_REF",
    "/root/reference/output/SF_schema_correspondences.csv")
  /** Side-channel parquet some entries write and their DuckDB oracles
    * read: dumped hash primitives (token hashes, permutations, IVF
    * assignments, hyperplanes, fingerprint chains). Paths are keyed by
    * the sf-dir basename so a bench run at another SF can't clobber the
    * verify artifact between dump and compare. */
  private def simhashTokensDir: String = sys.env.getOrElse(
    "GRAFT_SIMHASH_TOKENS_DIR", "/root/repo/target/oracle_aux")
  private def auxPath(dir: String, name: String): String =
    s"$simhashTokensDir/${name}_${new java.io.File(dir).getName}.parquet"
  /** Aux dumps run ONLY under Verify (which sets this property) — a bench
    * invocation of the same query times the operator alone, not the
    * parity plumbing (the r5 bench rows silently included serial
    * coalesce(1) oracle writes). */
  private def dumpAux: Boolean = sys.props.get("graft.dump.aux").contains("1")
  private def dump(df: DataFrame, dir: String, name: String): Unit =
    if (dumpAux)
      df.coalesce(1).write.mode("overwrite").parquet(auxPath(dir, name))

  /** Sf-dir basename the ORACLE side reads aux dumps under. Verify pins it
    * to the directory it actually ran (so verifying any scale works);
    * outside Verify it defaults to the driver's verify scale. Keeping the
    * two sides keyed off one value is what ADVICE r5 #4 asked for: a
    * mismatch is now impossible rather than a confusing stale-artifact
    * hash diff. */
  private def oracleSfName: String =
    sys.props.getOrElse("graft.verify.sf", "sf0.01")
  private def oracleAux(name: String): String =
    s"$simhashTokensDir/${name}_$oracleSfName.parquet/*.parquet"

  /** Provenance label carried in the gated q_reference_parity row itself,
    * so the R=0.9016 number can't be quoted as single-run recall: it names
    * the artifact file (the default is the two-provenance UNION). */
  private def parityArtifactLabel: String =
    new java.io.File(parityOursCsv).getName

  /** Flagship: the full T2K matching pipeline on the micro corpus ->
    * extracted triples. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val kb = KbIngest.fromLodTables(spark, MicroCorpus.lodTables, MicroCorpus.classHierarchy)
    T2KPipeline.run(MicroCorpus.docs(spark), kb,
      MicroCorpus.surfaceFormsDf(spark), MicroCorpus.classHierarchy.toMap).triples
  }

  // ---- shared derivations (identical shapes mirrored in the oracle) -----
  /** part-name token sets: the web-table key-value / entity-label proxy. */
  private def partTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(col("p_partkey").as("id"),
      array_distinct(TextAnalysis.tokensCol(col("p_name"))).as("toks"))
      .withColumn("n", size(col("toks")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/A: scan + hash aggregation with pushdown (TPC-H Q1 shape)
    "q_agg" -> ((s, dir) => t(s, dir, "lineitem")
      .filter(col("l_shipdate") < lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_revenue"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag").as("returnflag"), col("l_linestatus").as("linestatus"),
        col("sum_qty"), col("sum_revenue"), col("n_rows"))),

    // joins: broadcast dim join + aggregation
    "q_join_agg" -> ((s, dir) => t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("sum_price"), count(lit(1)).as("n_orders"))
      .select(col("n_name").as("nation"), col("sum_price"), col("n_orders"))),

    // window top-k per group (the pipeline's top-1/top-k primitive)
    "q_window_topk" -> ((s, dir) => t(s, dir, "orders")
      .withColumn("rk", row_number().over(Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
      .filter(col("rk") <= 3)
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
        col("o_totalprice").as("totalprice"), col("rk"))),

    // anti join (set-difference semantics): customers with no URGENT
    // order — every customer has SOME order in this corpus, so the
    // unfiltered variant proved nothing (0 == 0)
    "q_anti_join" -> ((s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"))),

    // running window aggregates (per-entity ordered state)
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("running_value", round(sum(col("value"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), 4))
        .select(col("user_id"), col("event_id"), col("rn"), col("running_value"))
    }),

    // sessionization (gap > 30 min) — batch shape of the streaming op
    "q_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_session"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        // order-insensitive float sum: scale to longs pre-aggregation so
        // the summation order can't move the last digit (hash agg order is
        // nondeterministic; both engines round the same IEEE double, then
        // sum exact integers)
        .agg(count(lit(1)).as("n_events"),
          (sum(round(col("value") * 10000).cast("long")) / 10000.0).as("sum_value"))
        .select(col("user_id"), col("session_id"), col("n_events"), col("sum_value"))
    }),

    // exact deduplication
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_copies"))),

    // narrow-shuffle exact dedup: groups on xxhash64(text) (8-byte keys;
    // document bodies never shuffle). The oracle groups on the RAW text —
    // a 64-bit collision merging two distinct texts would break the match
    "q_dedup_hash" -> ((s, dir) =>
      Dedup.exactByHash(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_copies"))),

    // benchmark decontamination (GPT-3/PaLM 13-gram rule): documents
    // doc_id < 400 are the "training" side, >= 400 the "benchmark";
    // the engine joins on xxhash64 gram hashes, the oracle rebuilds the
    // gram STRINGS in SQL — a hash collision would fail the gate
    "q_decontaminate" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      Dedup.contaminated(all.filter(col("doc_id") < 400), "doc_id", "text",
          all.filter(col("doc_id") >= 400), "doc_id", "text", n = 13)
        .select(col("docId").as("doc_id"), col("n_contaminated_grams"),
          col("n_bench_docs"))
    }),

    // tokenisation + document frequency (the candidate-index build S5)
    "q_token_df" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(
        TextAnalysis.tokensCol(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)),

    // text quality scoring
    "q_quality" -> ((s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("n_tokens_bpe"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("quality_score"), 6).as("quality_score"))),

    // stopword-vote language id
    "q_langid" -> ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"))
        .select(col("doc_id"), col("pred_lang"))),

    // Gopher-style repetition metrics (the engine groups 64-bit gram
    // hashes; the oracle recounts the gram STRINGS — a collision fails
    // the gate)
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents"))
        .select(col("doc_id") +:
          Seq("top_2gram_char_frac", "top_3gram_char_frac",
            "top_4gram_char_frac", "dup_5gram_char_frac",
            "dup_10gram_char_frac").map(c => round(col(c), 6).as(c)): _*)),

    // token-set Jaccard near-dup pairs (dedup family + B1 join shape).
    // Bounded to the first 5000 parts: the part-name vocabulary is tiny,
    // so the token self-join is inherently quadratic in corpus density —
    // at sf<=0.01 the bound admits every row (oracle-identical).
    "q_neardup_jaccard" -> ((s, dir) => {
      val part = t(s, dir, "part").filter(col("p_partkey") < 5000)
        .select(col("p_partkey").as("doc_id"), col("p_name").as("text"))
      Dedup.jaccardPairs(part, "doc_id", "text", 0.5)
        .select(col("id1"), col("id2"), col("jaccard"))
    }),

    // Prefix-filtered (AllPairs/PPJoin) exact Jaccard — recall-lossless
    // scale path of the dedup family. The oracle is the EXHAUSTIVE pair
    // join (no cap, no prefix), so the check proves the prefix filter
    // drops nothing end-to-end, scores included.
    "q_neardup_prefix" -> ((s, dir) => {
      val part = t(s, dir, "part").filter(col("p_partkey") < 2000)
        .select(col("p_partkey").as("doc_id"), col("p_name").as("text"))
      Dedup.jaccardPairsPrefix(part, "doc_id", "text", 0.5)
        .select(col("id1"), col("id2"), col("jaccard"))
    }),

    // Character 5-gram Jaccard near-dup on documents — the boundary-free
    // leg of the dedup family (catches concatenation/reordering dups that
    // word-token sets miss). Bounded to a FIXED 500-doc slice at every
    // scale: the synthetic corpus draws from a ~2k-shingle vocabulary, so
    // a proportional slice makes the df cap scale-relative (at 2000 docs
    // every shingle exceeds df 200 and recall degenerates to zero).
    // Cap 200 is ACTIVE at 500 docs (uncapped yields 25 pairs, capped 12),
    // so the oracle covers the cap semantics, not just the Jaccard math.
    "q_neardup_ngram" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      Dedup.jaccardPairs(docs, "doc_id", "text", 0.5, dfCap = 200, gramSize = 5)
        .select(col("id1"), col("id2"), col("jaccard"))
    }),

    // T2K candidate generation (B1/B2/R1/R2) over part-name entities.
    // Query side bounded to 2000 rows (all rows at the sf0.01 verify
    // scale); the index side stays complete — the realistic asymmetry
    // (rows << KB) of the actual pipeline.
    "q_candidates_topk" -> ((s, dir) => {
      val pt = partTokens(s, dir)
      val cells = t(s, dir, "part").filter(col("p_partkey") < 2000)
        .select(lit("part").as("tableName"),
        col("p_partkey").cast("int").as("rowNum"), lit(0).as("colIdx"),
        lit("text").as("kind"), col("p_name").as("text"),
        lit(null).cast("string").as("mediaRef"))
      val keyCols = s.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row("part", 0)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("tableName", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("colIdx", org.apache.spark.sql.types.IntegerType))))
      val nNames = pt.count().max(1L)
      val index = pt
        .select(concat(lit("p"), lpad(col("id").cast("string"), 10, "0")).as("uri"),
          lit(0).as("classId"),
          xxhash64(concat_ws(" ", col("toks"))).as("nameId"),
          col("n").as("nNameTok"), explode(col("toks")).as("token"))
        .withColumn("idf", lit(1.0))
      Candidates.generate(cells, keyCols, index, 5, 0.5)
        .select(col("rowNum").as("row_id"), col("uri"), col("score"))
    }),

    // B2 fuzzy lookup (edit distance 1, CandidateRefinement parity): every
    // query key has its 3rd character deleted — the typo'd token still
    // links through the deletion-1 neighborhood join, scored
    // greatest(exact, 0.999·fuzzy). Oracle: DuckDB levenshtein join.
    "q_candidates_fuzzy" -> ((s, dir) => {
      val pt = partTokens(s, dir)
      val cells = t(s, dir, "part").filter(col("p_partkey") < 500)
        .select(lit("part").as("tableName"),
          col("p_partkey").cast("int").as("rowNum"), lit(0).as("colIdx"),
          lit("text").as("kind"),
          concat(substring(col("p_name"), 1, 2), substring(col("p_name"), 4, 1000)).as("text"),
          lit(null).cast("string").as("mediaRef"))
      val keyCols = s.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row("part", 0)),
        StructType(Seq(StructField("tableName", StringType),
          StructField("colIdx", IntegerType))))
      // The token index feeds THREE plan legs (exact join, fuzzy join,
      // deletion-variant expansion): one lazy serialized localCheckpoint
      // computes the scan+tokenize once, exactly like the pipeline's
      // `candidate_tokens` checkpoint (T2KPipeline.scala).
      val index = pt
        .select(concat(lit("p"), lpad(col("id").cast("string"), 10, "0")).as("uri"),
          lit(0).as("classId"),
          xxhash64(concat_ws(" ", col("toks"))).as("nameId"),
          col("n").as("nNameTok"), explode(col("toks")).as("token"))
        .localCheckpoint(false,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      // Prebuilt variant index, mirroring the pipeline's checkpointed
      // `candidate_variants` stage — passing variants=None rebuilt the
      // expansion (index scan + df-count shuffle) inside every bench
      // invocation (the round-3 bench regression). The cap applies at the
      // DISTINCT-TOKEN level (deletion shapes shared by > 2000 distinct
      // tokens), which never triggers on a realistic vocabulary — engine
      // and the uncapped DuckDB levenshtein oracle agree at any SF.
      val variants = Candidates.variantIndex(index)
        .localCheckpoint(false,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      Candidates.generate(cells, keyCols, index, 5, 0.5, None, 1,
        variants = Some(variants))
        .select(col("rowNum").as("row_id"), col("uri"), col("score"))
    }),

    // class decision distribution (A1-A3) over part brand/mfgr
    "q_class_distribution" -> ((s, dir) => {
      val cands = t(s, dir, "part").select(
        col("p_brand").as("tableName"), col("p_partkey").as("rowNum"),
        concat(lit("p"), lpad(col("p_partkey").cast("string"), 10, "0")).as("uri"),
        pmod(col("p_size"), lit(5)).cast("int").as("classId"),
        lit(1.0).as("score"))
      val classes = cands.select(col("classId")).distinct()
        .withColumn("classWeight", lit(0.0))
      Classes.decide(cands, classes, 0.5, 5)
        .select(col("tableName").as("table_name"), col("classId").as("class_id"),
          col("classScore").as("class_score"))
    }),

    // correspondence combination (A6): weighted union + group-sum + threshold
    "q_vote_combine" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val dup = o.select(col("o_orderstatus").as("tableName"),
        month(col("o_orderdate")).as("colIdx"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("propId"),
        (col("o_totalprice") / 1000000).as("score"))
      val label = o.select(col("o_orderstatus").as("tableName"),
        month(col("o_orderdate")).as("colIdx"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("propId"),
        (col("o_totalprice") / 2000000).as("score"))
      val keyCorrs = o.select(col("o_orderstatus").as("tableName")).distinct()
        .select(col("tableName"), lit(0).as("colIdx"), lit(0).as("propId"),
          lit(1.0).as("score"))
      Schema.combine(dup, label, keyCorrs, 0.8, 0.2, 0.03)
        .select(col("tableName").as("table_name"), col("colIdx").as("col_idx"),
          col("propId").as("prop_id"), round(col("score"), 4).as("score"))
    }),

    // brute-force cosine top-k (similarity search baseline)
    "q_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimSearch.bruteForceTopK(emb.filter(col("vec_id") < 8), emb,
          "vec_id", "embedding", 5)
        .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rk"))
    }),

    // IVF ANN (the single-cell scale path next to the LSH leg). Fully
    // oracle-checked via the q_simhash_pairs pattern: the only non-SQL
    // primitive is the trained quantiser, so the entry dumps the corpus
    // cell assignment + the query probe lists to parquet and the DuckDB
    // oracle recomputes the probe join, exact cosine and top-k in SQL.
    // Centroid training itself is pinned by IvfSpec (layout-deterministic;
    // nProbe = nCells reproduces brute force exactly).
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SimSearch.trainCentroids(emb, "vec_id", "embedding",
        nCells = 16, iterations = 2)
      val queries = emb.filter(col("vec_id") < 8)
      dump(SimSearch.ivfAssign(emb, "vec_id", "embedding", cents), dir, "ivf_assign")
      dump(SimSearch.ivfProbe(queries, "vec_id", "embedding", cents, nProbe = 4),
        dir, "ivf_probe")
      SimSearch.ivfTopK(queries, emb, "vec_id", "embedding", 5, cents,
          nProbe = 4)
        .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rk"))
    }),

    // exact embedding-cosine near-dup pairs (the dedup baseline; the scale
    // path is the LSH-bucketed variant). The corpus embeddings are random
    // (max pairwise cosine ~0.44), so near-dups are PLANTED: each vec_id <
    // 50 gains a perturbed copy (first component +0.5) at id+10000 — the
    // 50 (original, copy) pairs are the expected result at 0.99.
    "q_embed_neardup" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val planted = base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + lit(0.5)),
            slice(col("embedding"), 2, 100000)).as("embedding"))
      SimSearch.bruteForceNearDup(base.unionByName(planted),
          "vec_id", "embedding", 0.85)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
    }),

    // LSH-bucketed embedding near-dup (the 10^12-row path: sign-bit
    // buckets + exact verify). Fully oracle-checked via the q_minhash_lsh
    // pattern: the one non-SQL primitive — the deterministic hyperplane
    // literal table — is dumped to parquet, and the DuckDB oracle
    // recomputes the sign buckets, the bucket join and the exact cosine
    // verify in SQL (recall vs brute force is separately OpsSpec-gated).
    "q_embed_lsh_neardup" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val planted = base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + lit(0.5)),
            slice(col("embedding"), 2, 100000)).as("embedding"))
      dump(SimSearch.hyperplaneTable(s, tables = 8, nBits = 12, dim = 64),
        dir, "lsh_planes")
      SimSearch.cosineNearDupPairs(base.unionByName(planted),
          "vec_id", "embedding", 0.85, dim = 64)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
    }),

    // MinHash-LSH near-dup. Fully oracle-checked like q_simhash_pairs:
    // the two non-SQL primitives (token -> xxhash64, and the 64
    // permutation values xxhash64(h, i) over the vocabulary's hashes) are
    // dumped to parquet; the DuckDB oracle recomputes signatures (min per
    // permutation), band keys (the '_'-joined slice STRING — equal
    // strings iff the engine's equal band hashes, modulo xxhash
    // collisions), bucket caps, the pair join and the exact-Jaccard
    // verify in SQL. Threshold 0.8: the synthetic documents share a tiny
    // vocabulary, so 0.5 would accept a quadratic fraction of all pairs.
    "q_minhash_lsh" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      if (dumpAux) {
        val toks = docs.select(explode(array_distinct(
            TextAnalysis.tokensCol(col("text")))).as("token"))
          .distinct().withColumn("h", xxhash64(col("token")))
          .localCheckpoint(true)
        dump(toks, dir, "minhash_tokens")
        dump(toks.select(col("h"), posexplode(transform(sequence(lit(0), lit(63)),
          i => xxhash64(col("h"), i))).as(Seq("i", "v"))), dir, "minhash_perms")
      }
      Dedup.minhashLsh(docs, "doc_id", "text", 0.8,
        numHashes = 64, bands = 8)
    }),

    // SimHash near-dup. Fully oracle-checked: the only non-SQL piece is
    // the per-token string hash, so the entry dumps the vocabulary-level
    // (token, hash) dictionary to parquet and the DuckDB oracle recomputes
    // signatures (per-bit majority vote), 16-bit block buckets, the
    // bucket-capped pair join and the xor/bit_count Hamming filter in SQL
    // from the same hashes. Tokenisation itself is independently
    // oracle-verified (q_token_df / q_neardup_jaccard).
    "q_simhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      dump(Dedup.tokenHashTable(docs, "doc_id", "text"), dir, "simhash_tokens")
      Dedup.simhashPairs(docs, "doc_id", "text", 10)
    }),

    // Rolling-hash fingerprint. Oracle-checked via a dumped CHAIN table:
    // each doc's per-step (i, token, acc_in, acc_out) transitions go to
    // parquet, and the DuckDB oracle verifies the chain wiring — step i's
    // token must equal the doc's i-th token recomputed from raw text in
    // SQL, acc_in(0) = 0, acc_in(i) = acc_out(i-1), step count = token
    // count — then emits the last acc_out as the fingerprint. Only the
    // xxhash64(long, string) primitive itself is taken from the dump
    // (same trust boundary as the minhash/simhash oracles); any
    // tokenisation, ordering or aggregation defect breaks the match.
    "q_fingerprint" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      if (dumpAux) {
        val steps = docs
          .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("toks"))
          .select(col("doc_id"), col("toks"),
            posexplode(col("toks")).as(Seq("i", "token")))
          .withColumn("acc_in", aggregate(slice(col("toks"), lit(1), col("i")),
            lit(0L), (a, tk) => xxhash64(a, tk)))
          .withColumn("acc_out", xxhash64(col("acc_in"), col("token")))
          .select("doc_id", "i", "token", "acc_in", "acc_out")
        dump(steps, dir, "fingerprint_steps")
      }
      TextAnalysis.fingerprint(docs).select(col("doc_id"), col("fingerprint"))
    }),

    // key/subject-column detection (S1/§2.10) over span-encoded customers
    "q_key_detection" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val nullS = lit(null).cast(StringType)
      def span(text: org.apache.spark.sql.Column, off: Int) =
        struct(lit("text").as("kind"), text.as("text"), nullS.as("media_ref"),
          lit(off).as("offset"))
      val docs = c.select(
        concat(lit("cust"), col("c_nationkey"), lit("#r"), col("c_custkey")).as("doc_id"),
        array(span(col("c_acctbal").cast("string"), 0), span(col("c_name"), 1),
          span(col("c_mktsegment"), 2)).as("spans"))
      Keys.detect(graft.model.SpanCodec.columns(docs))
        .select(col("tableName").as("table_name"), col("colIdx").as("col_idx"))
    }),

    // URI canonicalisation (S9)
    "q_canonicalize" -> ((s, dir) => {
      val uris = t(s, dir, "part").select(col("p_partkey").as("id"),
        concat(lit("http://dbpedia.org/ontology/PopulatedPlace/"),
          regexp_replace(col("p_type"), " ", "")).as("uri"))
      val aliases = Canonicalizer.dbpediaScopedPropertyAliases(uris, "uri")
      Canonicalizer.canonicalise(uris, aliases, "uri").select("id", "uri")
    }),

    // P/R/F1 evaluation harness (S8 + MatchingEvaluator shape)
    "q_eval_prf" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val pred = part.filter(col("p_size") > 25).select(col("p_partkey").as("id"))
      val gold = part.filter(col("p_size") > 20).select(col("p_partkey").as("id"))
      val prf = Evaluator.evaluate(pred, gold, Seq("id"))
      s.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(prf.tp, prf.predicted, prf.gold,
          prf.precision, prf.recall, prf.f1)),
        StructType(Seq(StructField("tp", org.apache.spark.sql.types.LongType),
          StructField("n_predicted", org.apache.spark.sql.types.LongType),
          StructField("n_gold", org.apache.spark.sql.types.LongType),
          StructField("prec", org.apache.spark.sql.types.DoubleType),
          StructField("rec", org.apache.spark.sql.types.DoubleType),
          StructField("f1", org.apache.spark.sql.types.DoubleType))))
    }),

    // mapped-ratio table filtering (A8): keep tables >= 50% mapped rows,
    // then left-semi filter the row set
    "q_table_filter" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val keep = part.groupBy(col("p_brand"))
        .agg((count(when(col("p_size") <= 25, 1)).cast("double") /
          count(lit(1))).as("ratio"))
        .filter(col("ratio") >= 0.5)
      part.join(keep.select("p_brand"), Seq("p_brand"), "left_semi")
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n_rows"))
        .select(col("p_brand").as("brand"), col("n_rows"))
    }),

    // Hungarian 1:1 assignment per group (M3; rows-only: not SQL-expressible)
    "q_onetoone_hungarian" -> ((s, dir) => {
      val edges = t(s, dir, "part")
        .groupBy(col("p_brand").as("groupKey"),
          pmod(col("p_partkey"), lit(7)).cast("int").as("left"),
          pmod(col("p_partkey"), lit(5)).cast("int").as("right"))
        .agg((lit(1.0) / (pmod(min(col("p_partkey")), lit(13)) + 1)).as("score"))
      OneToOne.filterPerGroup(edges, "hungarian")
        .select(col("groupKey").as("group_key"), col("left"), col("right"),
          round(col("score"), 6).as("score"))
    }),

    // Hungarian optimality ORACLE (M3): per group of a 3x3 score matrix,
    // the assignment's total score must equal the brute-force maximum over
    // all 6 permutations — DuckDB enumerates the permutations exactly.
    "q_onetoone_score" -> ((s, dir) => {
      val edges = t(s, dir, "part")
        .groupBy(col("p_brand").as("groupKey"),
          pmod(col("p_partkey"), lit(3)).cast("int").as("left"),
          pmod(floor(col("p_partkey") / 3), lit(3)).cast("int").as("right"))
        .agg((lit(1.0) / (pmod(min(col("p_partkey")), lit(13)) + 1)).as("score"))
      OneToOne.filterPerGroup(edges, "hungarian")
        .groupBy(col("groupKey"))
        .agg(round(sum(col("score")), 6).as("total_score"))
        .select(col("groupKey").as("group_key"), col("total_score"))
    }),

    // Hungarian 2x2 ASSIGNMENT oracle (M3): per group of a 2x2 integer
    // score matrix the assignment is closed-form (diag vs anti-diag total;
    // missing cells = 0); groups where the two totals tie are excluded in
    // BOTH engines (the winner is implementation-defined on ties).
    "q_onetoone_assign" -> ((s, dir) => {
      val edges = t(s, dir, "part")
        .groupBy(col("p_brand").as("groupKey"),
          pmod(col("p_partkey"), lit(2)).cast("int").as("left"),
          pmod(floor(col("p_partkey") / 2), lit(2)).cast("int").as("right"))
        .agg((pmod(min(col("p_partkey")), lit(97)) + 1).cast("double").as("score"))
      val cells = edges.groupBy("groupKey").agg(
        coalesce(max(when(col("left") === 0 && col("right") === 0, col("score"))), lit(0.0)).as("s00"),
        coalesce(max(when(col("left") === 0 && col("right") === 1, col("score"))), lit(0.0)).as("s01"),
        coalesce(max(when(col("left") === 1 && col("right") === 0, col("score"))), lit(0.0)).as("s10"),
        coalesce(max(when(col("left") === 1 && col("right") === 1, col("score"))), lit(0.0)).as("s11"))
      val ok = cells.filter(
        abs((col("s00") + col("s11")) - (col("s01") + col("s10"))) > 1e-9)
        .select("groupKey")
      OneToOne.filterPerGroup(edges, "hungarian")
        .join(ok, Seq("groupKey"), "left_semi")
        .select(col("groupKey").as("group_key"), col("left").as("left_id"),
          col("right").as("right_id"), col("score"))
    }),

    // SF formula "Basic", ONE propagation step, no 1:1 filter — closed
    // form (seed + coeff*(total - seed), normalised by max), so DuckDB
    // can mirror it exactly: integer-valued seeds make every FP op
    // bit-identical across engines.
    "q_sf_basic" -> ((s, dir) => {
      val seeds = t(s, dir, "part")
        .groupBy(col("p_brand").as("groupKey"),
          pmod(col("p_partkey"), lit(6)).cast("int").as("left"),
          pmod(col("p_partkey"), lit(4)).cast("int").as("right"))
        .agg((pmod(min(col("p_partkey")), lit(11)) + 1).cast("double").as("score"))
      SimilarityFlooding.run(seeds, "Basic", 0.1, "none", maxIter = 1)
        .select(col("groupKey").as("group_key"), col("left").as("left_id"),
          col("right").as("right_id"), col("score"))
    }),

    // SF formula "B", ONE propagation step, no 1:1 filter — φ alone is
    // the next score (σ' = φ(σ0+σ)), so with integer seeds the closed
    // form ((2·total − 2·s_i)/(n−1), normalised by max) is bit-identical
    // in DuckDB. Second SF fixpoint formula under full three-check oracle
    // coverage (q_sf_basic covers Basic/A's seed+φ shape).
    "q_sf_formula_b" -> ((s, dir) => {
      val seeds = t(s, dir, "part")
        .groupBy(col("p_brand").as("groupKey"),
          pmod(col("p_partkey"), lit(6)).cast("int").as("left"),
          pmod(col("p_partkey"), lit(4)).cast("int").as("right"))
        .agg((pmod(min(col("p_partkey")), lit(11)) + 1).cast("double").as("score"))
      SimilarityFlooding.run(seeds, "B", 0.1, "none", maxIter = 1)
        .select(col("groupKey").as("group_key"), col("left").as("left_id"),
          col("right").as("right_id"), col("score"))
    }),

    // similarity-flooding score propagation per group (F1-F5; rows-only)
    "q_similarity_flooding" -> ((s, dir) => {
      val seeds = t(s, dir, "part")
        .groupBy(col("p_brand").as("groupKey"),
          pmod(col("p_partkey"), lit(6)).cast("int").as("left"),
          pmod(col("p_partkey"), lit(4)).cast("int").as("right"))
        .agg((lit(1.0) / (pmod(min(col("p_partkey")), lit(11)) + 1)).as("score"))
      SimilarityFlooding.run(seeds, "A", 0.1, "stable")
        .select(col("groupKey").as("group_key"), col("left"), col("right"),
          round(col("score"), 6).as("score"))
    }),

    // multimodal plumbing: synthetic media (REAL PNGs on image rows, REAL
    // WAVs on audio rows, stub payloads on video rows) -> mime-dispatched
    // feature extraction. The mime split and the invariants (every row
    // decodes, 16-dim feature) are SQL-recomputable, so this row has an
    // independent oracle; the image/audio FEATURE VALUES are value-gated
    // by q_image_decode / q_audio_decode below.
    "q_multimodal_features" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(
        t(s, dir, "documents").filter(col("doc_id") < 200), "doc_id")
      Multimodal.extractFeatures(media, buckets = 8).toDF()
        .select(col("media_ref"), col("mime"), col("ok"),
          size(col("feature")).as("feature_dim"))
    }),

    // REAL image decode, value-gated end-to-end: deterministic synthetic
    // PNGs (pixel(x,y) = (seed + 31x + 17y) mod 256, seed = char-code sum
    // of the ref mod 256) are ENCODED with ImageIO, decoded back with
    // ImageIO, and reduced to the 4x4 block-sum luma feature. The DuckDB
    // oracle recomputes the expected feature in exact integer arithmetic
    // from the ref alone — it never touches PNG bytes — so encode, decode
    // and the resample kernel are all under independent check. Cell
    // values are k/4096 with k <= 4080, exact in float AND double, so the
    // cast is bit-identical across engines.
    "q_image_decode" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(
          t(s, dir, "documents").filter(col("doc_id") < 200), "doc_id")
        .filter(col("mime") === "image/png")
      Multimodal.extractFeatures(media, buckets = 8).toDF()
        .select(col("media_ref"),
          posexplode(col("feature")).as(Seq("cell_idx", "luma")))
        .select(col("media_ref"), col("cell_idx"),
          col("luma").cast("double").as("luma"))
    }),

    // REAL audio decode, value-gated end-to-end: deterministic synthetic
    // WAVs (sample(i) = (((seed + 7i) mod 256) - 128) << 8, seed =
    // char-code sum of the ref mod 256) are decoded with
    // javax.sound.sampled and reduced to the 16-cell block-sum amplitude
    // feature. The DuckDB oracle recomputes the expected feature in exact
    // integer arithmetic from the ref alone — it never touches WAV bytes
    // — so the RIFF encode, PCM decode and the resample kernel are all
    // under independent check. Cell values are k/4096 with k <= 4080,
    // exact in float AND double.
    "q_audio_decode" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(
          t(s, dir, "documents").filter(col("doc_id") < 200), "doc_id")
        .filter(col("mime") === "audio/wav")
      Multimodal.extractFeatures(media, buckets = 8).toDF()
        .select(col("media_ref"),
          posexplode(col("feature")).as(Seq("cell_idx", "amp")))
        .select(col("media_ref"), col("cell_idx"),
          col("amp").cast("double").as("amp"))
    }),

    // North-star parity row (BASELINE.json: P/R vs the reference's own
    // emitted output): our committed T2D schema-correspondence artifact
    // (BENCH/t2d_schema_correspondences.csv, produced by T2KMain on the
    // reference's shipped data/T2K corpus) against the one artifact the
    // reference ships (/root/reference/output/SF_schema_correspondences
    // .csv). Both engines compute the same P/R/F1 from the same two CSVs
    // — the row documents the measured parity in CORRECTNESS.
    "q_reference_parity" -> ((s, dir) => {
      val ours = s.read.option("header", "true")
        .csv(parityOursCsv)
        .select(col("id1"), col("id2")).distinct()
      val ref = s.read.csv(parityRefCsv)
        .select(col("_c0").as("id1"), col("_c1").as("id2")).distinct()
      val tp = ours.join(ref, Seq("id1", "id2"), "left_semi").count()
      val no = ours.count()
      val nr = ref.count()
      val prec = if (no == 0) 0.0 else tp.toDouble / no
      val rec = if (nr == 0) 0.0 else tp.toDouble / nr
      val f1 = if (prec + rec == 0) 0.0 else 2 * prec * rec / (prec + rec)
      s.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(parityArtifactLabel, tp, no, nr, prec, rec, f1)),
        StructType(Seq(StructField("artifact", StringType),
          StructField("tp", org.apache.spark.sql.types.LongType),
          StructField("n_ours", org.apache.spark.sql.types.LongType),
          StructField("n_ref", org.apache.spark.sql.types.LongType),
          StructField("prec", org.apache.spark.sql.types.DoubleType),
          StructField("rec", org.apache.spark.sql.types.DoubleType),
          StructField("f1", org.apache.spark.sql.types.DoubleType))))
    }),

    // full T2K pipeline on the deterministic micro corpus (rows-only)
    "q_t2k_triples" -> ((s, dir) => entry(s).select(
      col("subjectUri").as("subject_uri"), col("predicateUri").as("predicate_uri"),
      col("objectValue").as("object_value"), col("isNew").as("is_new"),
      col("lcwaCorrect").as("lcwa_correct")))
  )

  // ---- DuckDB oracles ----------------------------------------------------
  private val tokenSql =
    "list_distinct(list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> ''))"

  def oracleSql: Map[String, String] = Map(
    // Pinned VALUES goldens for the two remaining non-SQL-expressible
    // operators (GoldenOracles — regression gates, same pattern as
    // q_t2k_triples; Hungarian optimality and the SF closed forms are
    // separately oracle-gated via q_onetoone_score/q_onetoone_assign and
    // q_sf_basic/q_sf_formula_b).
    "q_onetoone_hungarian" -> GoldenOracles.onetooneHungarian,
    "q_similarity_flooding" -> GoldenOracles.similarityFlooding,

    // Sign-LSH embedding near-dup recomputed from the dumped hyperplane
    // literal table (the q_minhash_lsh pattern): DuckDB rebuilds the
    // planted vectors, the per-(vec, table, bit) projections, the sign
    // buckets, the bucket-capped pair join and the exact cosine verify.
    // Honest caveat on cross-engine float folds: the projection and
    // cosine sums are recomputed by DuckDB's row aggregate, whose
    // combine order can differ from the engine's i-ascending fold by an
    // ulp. The gate's discontinuities (sign of pr, cosine >= 0.85) sit
    // on continuous-valued sums, so a flip needs a sum within ~1e-15 of
    // the boundary — probability ~0 on this data, and a hit would
    // surface as a loud hash mismatch, never silent corruption. The
    // integer-primitive oracles (q_minhash_lsh etc.) don't carry this
    // caveat; embedding math is inherently FP.
    "q_embed_lsh_neardup" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings WHERE vec_id < 200),
         |planted AS (SELECT vec_id + 10000 AS vec_id,
         |  list_prepend(e[1] + 0.5, e[2:]) AS e FROM base WHERE vec_id < 50),
         |v AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
         |pl AS (SELECT * FROM read_parquet('${oracleAux("lsh_planes")}')),
         |proj AS (SELECT v.vec_id, p.tab, p.bit, sum(v.e[p.i + 1] * p.comp) AS pr
         | FROM v, pl p GROUP BY 1, 2, 3),
         |bkt AS (SELECT vec_id, tab,
         |  CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << CAST(bit AS INT))
         |   ELSE 0 END) AS BIGINT) AS bucket
         | FROM proj GROUP BY 1, 2),
         |kept AS (SELECT * FROM bkt
         | QUALIFY count(*) OVER (PARTITION BY tab, bucket) <= 100000),
         |cand AS (SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
         | FROM kept x JOIN kept y ON x.tab = y.tab AND x.bucket = y.bucket
         |  AND x.vec_id < y.vec_id),
         |n AS (SELECT vec_id, e,
         |  sqrt((SELECT sum(x * x) FROM (SELECT unnest(e) AS x) z)) AS nrm FROM v),
         |s AS (SELECT c.id1, c.id2,
         |  (SELECT sum(x * y) FROM (SELECT unnest(a.e) AS x, unnest(b.e) AS y) z)
         |    / (a.nrm * b.nrm) AS cosine
         | FROM cand c JOIN n a ON a.vec_id = c.id1 JOIN n b ON b.vec_id = c.id2)
         |SELECT id1, id2, round(cosine, 6) AS cosine FROM s WHERE cosine >= 0.85""".stripMargin,

    // Fingerprint chain verification from the dumped per-step table:
    // tokens and their order are recomputed from raw text in SQL; a step
    // row only survives if its token matches the doc's i-th token and its
    // acc_in equals the previous step's acc_out (0 at i = 0); a doc only
    // emits if every position survived. Zero-token docs fingerprint to 0.
    "q_fingerprint" ->
      s"""WITH tk AS (SELECT doc_id,
         |  list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS toks
         | FROM documents),
         |pos AS (SELECT doc_id, unnest(range(len(toks))) AS i, unnest(toks) AS tok FROM tk),
         |st AS (SELECT * FROM read_parquet('${oracleAux("fingerprint_steps")}')),
         |valid AS (SELECT s.doc_id, s.i, s.acc_out FROM st s
         | JOIN pos p ON p.doc_id = s.doc_id AND p.i = s.i AND p.tok = s.token
         | LEFT JOIN st prev ON prev.doc_id = s.doc_id AND prev.i = s.i - 1
         | WHERE (s.i = 0 AND s.acc_in = 0) OR (s.i > 0 AND prev.acc_out = s.acc_in)),
         |vc AS (SELECT doc_id, count(*) AS nv, max_by(acc_out, i) AS last_out
         | FROM valid GROUP BY 1),
         |sc AS (SELECT doc_id, count(*) AS ns FROM st GROUP BY 1)
         |SELECT tk.doc_id,
         | CASE WHEN len(tk.toks) = 0 THEN 0 ELSE vc.last_out END AS fingerprint
         |FROM tk LEFT JOIN vc ON vc.doc_id = tk.doc_id
         | LEFT JOIN sc ON sc.doc_id = tk.doc_id
         |WHERE len(tk.toks) = 0
         | OR (vc.nv = len(tk.toks) AND sc.ns = len(tk.toks))""".stripMargin,

    // The mime dispatch and row invariants are SQL-recomputable (the
    // image/audio/video split keys on last-char-code mod 3; the real
    // image/audio decodes and the labeled video stub all emit 16-dim ok
    // features); the image/audio feature VALUES are gated by
    // q_image_decode / q_audio_decode.
    "q_multimodal_features" ->
      """SELECT CAST(doc_id AS VARCHAR) AS media_ref,
        | CASE ascii(substr(CAST(doc_id AS VARCHAR), length(CAST(doc_id AS VARCHAR)), 1)) % 3
        |  WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
        |  ELSE 'video/mp4' END AS mime,
        | true AS ok, 16 AS feature_dim
        |FROM documents WHERE doc_id < 200""".stripMargin,

    // Expected post-decode features recomputed in exact integer
    // arithmetic from the ref alone (pixel = (seed + 31x + 17y) mod 256,
    // cell = sum of its 16 sampled pixels / 4096 — exact in float and
    // double): the PNG encode -> ImageIO decode -> block-sum kernel must
    // reproduce them bit-exactly.
    "q_image_decode" ->
      """WITH r AS (SELECT CAST(doc_id AS VARCHAR) AS media_ref FROM documents
        |  WHERE doc_id < 200),
        |img AS (SELECT media_ref,
        |  CAST(list_sum(list_transform(range(length(media_ref)),
        |    j -> ascii(substr(media_ref, CAST(j + 1 AS INT), 1)))) % 256 AS INT) AS seed
        | FROM r WHERE ascii(substr(media_ref, length(media_ref), 1)) % 3 = 0),
        |f AS (SELECT i.media_ref, CAST(c.c AS INT) AS cell_idx,
        |  sum((i.seed + 31 * ((c.c % 4) * 4 + (k.k % 4))
        |    + 17 * ((c.c // 4) * 4 + (k.k // 4))) % 256) AS s
        | FROM img i, (SELECT unnest(range(16)) AS c) c,
        |  (SELECT unnest(range(16)) AS k) k
        | GROUP BY 1, 2)
        |SELECT media_ref, cell_idx, CAST(s AS DOUBLE) / 4096 AS luma FROM f""".stripMargin,

    // Expected post-decode audio features recomputed in exact integer
    // arithmetic from the ref alone (point k reads WAV sample
    // floor(k * 400 / 256); its decoded value is (seed + 7 * frame) mod
    // 256; cell = sum of its 16 points / 4096 — exact in float and
    // double): the hand-written RIFF encode -> javax.sound.sampled decode
    // -> block-sum kernel must reproduce them bit-exactly.
    "q_audio_decode" ->
      """WITH r AS (SELECT CAST(doc_id AS VARCHAR) AS media_ref FROM documents
        |  WHERE doc_id < 200),
        |aud AS (SELECT media_ref,
        |  CAST(list_sum(list_transform(range(length(media_ref)),
        |    j -> ascii(substr(media_ref, CAST(j + 1 AS INT), 1)))) % 256 AS INT) AS seed
        | FROM r WHERE ascii(substr(media_ref, length(media_ref), 1)) % 3 = 1),
        |f AS (SELECT a.media_ref, CAST(c.c AS INT) AS cell_idx,
        |  sum((a.seed + 7 * (((c.c * 16 + k.k) * 400) // 256)) % 256) AS s
        | FROM aud a, (SELECT unnest(range(16)) AS c) c,
        |  (SELECT unnest(range(16)) AS k) k
        | GROUP BY 1, 2)
        |SELECT media_ref, cell_idx, CAST(s AS DOUBLE) / 4096 AS amp FROM f""".stripMargin,

    "q_agg" ->
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_revenue,
        | count(*) AS n_rows
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-01'
        |GROUP BY 1, 2""".stripMargin,

    "q_join_agg" ->
      """SELECT n_name AS nation, round(sum(o_totalprice), 2) AS sum_price,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,

    "q_window_topk" ->
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        | o_totalprice AS totalprice, rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders)
        |WHERE rk <= 3""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey AS custkey, c_name AS name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,

    "q_window_running" ->
      """SELECT user_id, event_id,
        | row_number() OVER w AS rn,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (
        | SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT user_id, event_id, value,
        |  -- BIGINT: DuckDB's window sum yields HUGEINT, Spark emits BIGINT;
        |  -- the harness hash is representation-sensitive (values identical)
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        | sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0 AS sum_value
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,

    // identical semantics to q_dedup_exact (raw-text grouping): proves
    // the engine's hash-keyed grouping loses/merges nothing
    "q_dedup_hash" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,

    // Gram strings recounted in SQL; top = max over grams of
    // count x chars (no tie-break needed), dup = mass of grams with
    // count >= 2; both over the normalised token-joined length, capped
    // at 1.0. Docs shorter than n score 0.
    "q_repetition" ->
      """WITH t0 AS (SELECT doc_id,
        |  list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS toks
        | FROM documents),
        |tok AS (SELECT doc_id, toks,
        |  CAST(length(array_to_string(toks, ' ')) AS DOUBLE) AS total_len FROM t0),
        |g2 AS (SELECT doc_id, gram, count(*) AS cnt FROM (SELECT doc_id,
        |  unnest(list_transform(range(1, len(toks)), i -> array_to_string(toks[CAST(i AS INT):CAST(i + 1 AS INT)], ' '))) AS gram FROM tok) GROUP BY 1, 2),
        |g3 AS (SELECT doc_id, gram, count(*) AS cnt FROM (SELECT doc_id,
        |  unnest(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) AS gram FROM tok) GROUP BY 1, 2),
        |g4 AS (SELECT doc_id, gram, count(*) AS cnt FROM (SELECT doc_id,
        |  unnest(list_transform(range(1, len(toks) - 2), i -> array_to_string(toks[CAST(i AS INT):CAST(i + 3 AS INT)], ' '))) AS gram FROM tok) GROUP BY 1, 2),
        |g5 AS (SELECT doc_id, gram, count(*) AS cnt FROM (SELECT doc_id,
        |  unnest(list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' '))) AS gram FROM tok) GROUP BY 1, 2),
        |g10 AS (SELECT doc_id, gram, count(*) AS cnt FROM (SELECT doc_id,
        |  unnest(list_transform(range(1, len(toks) - 8), i -> array_to_string(toks[CAST(i AS INT):CAST(i + 9 AS INT)], ' '))) AS gram FROM tok) GROUP BY 1, 2),
        |t2 AS (SELECT g.doc_id, least(max(g.cnt * length(g.gram)) / any_value(k.total_len), 1.0) AS v
        | FROM g2 g JOIN tok k USING (doc_id) GROUP BY 1),
        |t3 AS (SELECT g.doc_id, least(max(g.cnt * length(g.gram)) / any_value(k.total_len), 1.0) AS v
        | FROM g3 g JOIN tok k USING (doc_id) GROUP BY 1),
        |t4 AS (SELECT g.doc_id, least(max(g.cnt * length(g.gram)) / any_value(k.total_len), 1.0) AS v
        | FROM g4 g JOIN tok k USING (doc_id) GROUP BY 1),
        |d5 AS (SELECT g.doc_id, least(sum(g.cnt * length(g.gram)) / any_value(k.total_len), 1.0) AS v
        | FROM g5 g JOIN tok k USING (doc_id) WHERE g.cnt >= 2 GROUP BY 1),
        |d10 AS (SELECT g.doc_id, least(sum(g.cnt * length(g.gram)) / any_value(k.total_len), 1.0) AS v
        | FROM g10 g JOIN tok k USING (doc_id) WHERE g.cnt >= 2 GROUP BY 1)
        |SELECT k.doc_id,
        | round(coalesce(t2.v, 0.0), 6) AS top_2gram_char_frac,
        | round(coalesce(t3.v, 0.0), 6) AS top_3gram_char_frac,
        | round(coalesce(t4.v, 0.0), 6) AS top_4gram_char_frac,
        | round(coalesce(d5.v, 0.0), 6) AS dup_5gram_char_frac,
        | round(coalesce(d10.v, 0.0), 6) AS dup_10gram_char_frac
        |FROM tok k LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
        | LEFT JOIN t4 USING (doc_id) LEFT JOIN d5 USING (doc_id)
        | LEFT JOIN d10 USING (doc_id)""".stripMargin,

    // gram STRINGS rebuilt in SQL (the engine joined 64-bit hashes):
    // 1-based inclusive list slices, i in [1, len - 13 + 1]
    "q_decontaminate" ->
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS toks
        | FROM documents),
        |dg AS (SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 11),
        |    i -> array_to_string(toks[CAST(i AS INT):CAST(i + 12 AS INT)], ' '))) AS gram
        |  FROM tok WHERE doc_id < 400)),
        |bg AS (SELECT DISTINCT doc_id AS bench_id, gram FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 11),
        |    i -> array_to_string(toks[CAST(i AS INT):CAST(i + 12 AS INT)], ' '))) AS gram
        |  FROM tok WHERE doc_id >= 400))
        |SELECT dg.doc_id, count(DISTINCT dg.gram) AS n_contaminated_grams,
        | count(DISTINCT bg.bench_id) AS n_bench_docs
        |FROM dg JOIN bg USING (gram) GROUP BY 1""".stripMargin,

    "q_token_df" ->
      s"""SELECT token, count(*) AS df FROM (
         | SELECT doc_id, unnest($tokenSql) AS token FROM documents)
         |GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    "q_quality" ->
      s"""WITH b AS (
         | SELECT doc_id, text,
         |  list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS toks,
         |  CAST(length(text) AS DOUBLE) AS nchar,
         |  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS npunct,
         |  len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+')) AS n_tokens_bpe
         | FROM documents),
         |c AS (
         | SELECT doc_id, nchar, npunct, n_tokens_bpe,
         |  CAST(len(toks) AS DOUBLE) AS ntok,
         |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this'))) AS DOUBLE) AS nstop
         | FROM b),
         |d AS (
         | SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
         |  CAST(n_tokens_bpe AS BIGINT) AS n_tokens_bpe,
         |  CASE WHEN nchar > 0 THEN npunct / nchar ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN ntok > 0 THEN nstop / ntok ELSE 0.0 END AS stopword_ratio,
         |  ntok FROM c)
         |SELECT doc_id, n_tokens, n_tokens_bpe, round(stopword_ratio, 6) AS stopword_ratio,
         | round(CASE WHEN ntok = 0 THEN 0.0 ELSE
         |   least(ntok / 100.0, 1.0) * 0.5 +
         |   (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.25 +
         |   least(stopword_ratio * 4.0, 1.0) * 0.25 END, 6) AS quality_score
         |FROM d""".stripMargin,

    "q_langid" ->
      """WITH t AS (
        | SELECT doc_id, unnest(list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS tok
        | FROM documents),
        |v AS (
        | SELECT d.doc_id,
        |  coalesce(sum(CASE WHEN tok IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this') THEN 1 ELSE 0 END), 0) AS he,
        |  coalesce(sum(CASE WHEN tok IN ('der','die','das','und','oder','von','zu','im','ist','es','dass','fur','auf','mit','als','bei','ein','eine') THEN 1 ELSE 0 END), 0) AS hd,
        |  coalesce(sum(CASE WHEN tok IN ('le','la','les','et','ou','de','des','du','est','il','que','pour','sur','avec','dans','par','un','une') THEN 1 ELSE 0 END), 0) AS hf,
        |  coalesce(sum(CASE WHEN tok IN ('el','los','las','y','o','de','del','es','que','para','sobre','con','en','por','un','una','se','su') THEN 1 ELSE 0 END), 0) AS hs
        | FROM documents d LEFT JOIN t ON d.doc_id = t.doc_id GROUP BY 1)
        |SELECT doc_id, CASE
        | WHEN greatest(he, hd, hf, hs) = 0 THEN 'und'
        | WHEN hf >= he AND hf >= hd AND hf >= hs THEN 'fr'
        | WHEN hs >= he AND hs >= hd THEN 'es'
        | WHEN he >= hd THEN 'en' ELSE 'de' END AS pred_lang
        |FROM v""".stripMargin,

    "q_neardup_jaccard" ->
      """WITH s AS (SELECT p_partkey AS id,
        |  list_distinct(list_filter(string_split(lower(regexp_replace(p_name, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS toks
        | FROM part WHERE p_partkey < 5000),
        |t AS (SELECT id, len(toks) AS n, unnest(toks) AS tok FROM s),
        |p AS (SELECT a.id AS id1, b.id AS id2, any_value(a.n) AS n1,
        |  any_value(b.n) AS n2, count(*) AS shared
        | FROM t a JOIN t b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2)
        |SELECT id1, id2, CAST(shared AS DOUBLE) / (n1 + n2 - shared) AS jaccard
        |FROM p WHERE CAST(shared AS DOUBLE) / (n1 + n2 - shared) >= 0.5""".stripMargin,

    // exhaustive mirror for the prefix-filtered variant: DuckDB joins on
    // EVERY token occurrence — any pair the engine's prefix filter loses
    // (or any score drift through the hashed verify) breaks the hash match
    "q_neardup_prefix" ->
      """WITH s AS (SELECT p_partkey AS id,
        |  list_distinct(list_filter(string_split(lower(regexp_replace(p_name, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS toks
        | FROM part WHERE p_partkey < 2000),
        |t AS (SELECT id, len(toks) AS n, unnest(toks) AS tok FROM s),
        |p AS (SELECT a.id AS id1, b.id AS id2, any_value(a.n) AS n1,
        |  any_value(b.n) AS n2, count(*) AS shared
        | FROM t a JOIN t b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2)
        |SELECT id1, id2, CAST(shared AS DOUBLE) / (n1 + n2 - shared) AS jaccard
        |FROM p WHERE CAST(shared AS DOUBLE) / (n1 + n2 - shared) >= 0.5""".stripMargin,

    // char-5-gram mirror of q_neardup_jaccard: DuckDB rebuilds the shingle
    // sets (same lower + whitespace-collapse normalisation, 1-based substr,
    // full n-grams only), applies the df<=200 stop-gram floor pre-join, and
    // keeps n1/n2 as FULL set sizes — exactly the engine's cap semantics.
    "q_neardup_ngram" ->
      """WITH nrm AS (SELECT doc_id, lower(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')) AS nt
        | FROM documents WHERE doc_id < 500),
        |s AS (SELECT doc_id AS id,
        |  list_distinct(CASE WHEN length(nt) >= 5
        |   THEN list_transform(range(0, length(nt) - 4), i -> substr(nt, CAST(i + 1 AS INT), 5))
        |   ELSE CAST([] AS VARCHAR[]) END) AS toks
        | FROM nrm),
        |t AS (SELECT id, len(toks) AS n, unnest(toks) AS tok FROM s WHERE len(toks) > 0),
        |kept AS (SELECT * FROM t QUALIFY count(*) OVER (PARTITION BY tok) <= 200),
        |p AS (SELECT a.id AS id1, b.id AS id2, any_value(a.n) AS n1,
        |  any_value(b.n) AS n2, count(*) AS shared
        | FROM kept a JOIN kept b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2)
        |SELECT id1, id2, CAST(shared AS DOUBLE) / (n1 + n2 - shared) AS jaccard
        |FROM p WHERE CAST(shared AS DOUBLE) / (n1 + n2 - shared) >= 0.5""".stripMargin,

    "q_candidates_topk" ->
      """WITH s AS (SELECT p_partkey AS id,
        |  list_distinct(list_filter(string_split(lower(regexp_replace(p_name, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS toks
        | FROM part),
        |t AS (SELECT id, len(toks) AS n, unnest(toks) AS tok FROM s),
        |p AS (SELECT a.id AS rid, b.id AS uid, any_value(a.n) AS na,
        |  any_value(b.n) AS nb, count(*) AS shared
        | FROM t a JOIN t b ON a.tok = b.tok WHERE a.id < 2000 GROUP BY 1, 2),
        |j AS (SELECT rid, 'p' || lpad(CAST(uid AS VARCHAR), 10, '0') AS uri,
        |  CAST(shared AS DOUBLE) / (na + nb - shared) AS score FROM p
        | WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5)
        |SELECT rid AS row_id, uri, score FROM j
        |QUALIFY row_number() OVER (PARTITION BY rid ORDER BY score DESC, uri) <= 5""".stripMargin,

    // fuzzy-on-miss parity: the exact leg scores every row; rows with an
    // exact candidate >= threshold keep their exact candidate set, rows
    // that MISS get the levenshtein leg (greatest(exact, 0.999*fuzzy)).
    "q_candidates_fuzzy" ->
      """WITH qsrc AS (SELECT p_partkey AS id,
        |  substr(p_name, 1, 2) || substr(p_name, 4) AS name
        | FROM part WHERE p_partkey < 500),
        |q AS (SELECT id,
        |  list_distinct(list_filter(string_split(lower(regexp_replace(name, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS toks
        | FROM qsrc),
        |s AS (SELECT p_partkey AS id,
        |  list_distinct(list_filter(string_split(lower(regexp_replace(p_name, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS toks
        | FROM part),
        |qt AS (SELECT id, len(toks) AS n, unnest(toks) AS tok FROM q),
        |it AS (SELECT id, len(toks) AS n, unnest(toks) AS tok FROM s),
        |ex AS (SELECT a.id AS rid, b.id AS uid, any_value(a.n) AS na,
        |  any_value(b.n) AS nb, count(*) AS shared
        | FROM qt a JOIN it b ON a.tok = b.tok GROUP BY 1, 2),
        |exj AS (SELECT rid, uid,
        |  CAST(shared AS DOUBLE) / (na + nb - shared) AS score FROM ex),
        |hit AS (SELECT DISTINCT rid FROM exj WHERE score >= 0.5),
        |fz AS (SELECT a.id AS rid, b.id AS uid, any_value(a.n) AS na,
        |  any_value(b.n) AS nb,
        |  count(DISTINCT CASE WHEN a.tok = b.tok THEN a.tok END) AS shared,
        |  least(count(DISTINCT a.tok), count(DISTINCT b.tok)) AS sharedf
        | FROM qt a JOIN it b ON (a.tok = b.tok
        |   OR (greatest(length(a.tok), length(b.tok)) >= 4 AND levenshtein(a.tok, b.tok) <= 1))
        | WHERE a.id NOT IN (SELECT rid FROM hit)
        | GROUP BY 1, 2),
        |fzj AS (SELECT rid, uid,
        |  greatest(CAST(shared AS DOUBLE) / (na + nb - shared),
        |    CAST(sharedf AS DOUBLE) / (na + nb - sharedf) * 0.999) AS score
        | FROM fz),
        |u AS (SELECT * FROM exj WHERE rid IN (SELECT rid FROM hit)
        |  UNION ALL SELECT * FROM fzj),
        |j AS (SELECT rid, 'p' || lpad(CAST(uid AS VARCHAR), 10, '0') AS uri,
        |  score FROM u)
        |SELECT rid AS row_id, uri, score FROM j WHERE score >= 0.5
        |QUALIFY row_number() OVER (PARTITION BY rid ORDER BY score DESC, uri) <= 5""".stripMargin,

    "q_class_distribution" ->
      """WITH c AS (SELECT p_brand AS table_name,
        |  CAST(p_size % 5 AS INT) AS class_id, count(*) AS cnt
        | FROM part GROUP BY 1, 2),
        |m AS (SELECT *, max(cnt) OVER (PARTITION BY table_name) AS max_cnt,
        |  row_number() OVER (PARTITION BY table_name ORDER BY cnt DESC, class_id) AS rk
        | FROM c),
        |k AS (SELECT *, sum(CASE WHEN CAST(cnt AS DOUBLE) / max_cnt >= 0.5 THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY table_name) AS n_keep FROM m)
        |SELECT table_name, class_id, CAST(cnt AS DOUBLE) / max_cnt AS class_score
        |FROM k WHERE CAST(cnt AS DOUBLE) / max_cnt >= 0.5 OR (n_keep = 0 AND rk <= 5)""".stripMargin,

    "q_vote_combine" ->
      """WITH dup AS (SELECT o_orderstatus AS table_name, month(o_orderdate) AS col_idx,
        |  CAST(substr(o_orderpriority, 1, 1) AS INT) AS prop_id,
        |  o_totalprice / 1000000 * 0.8 AS score FROM orders),
        |lab AS (SELECT o_orderstatus, month(o_orderdate),
        |  CAST(substr(o_orderpriority, 1, 1) AS INT),
        |  o_totalprice / 2000000 * 0.2 FROM orders),
        |u AS (SELECT * FROM dup UNION ALL SELECT * FROM lab),
        |g AS (SELECT table_name, col_idx, prop_id, sum(score) AS score
        | FROM u GROUP BY 1, 2, 3 HAVING sum(score) >= 0.03),
        |kc AS (SELECT DISTINCT o_orderstatus AS table_name, 0 AS col_idx,
        |  0 AS prop_id, 1.0 AS score FROM orders)
        |SELECT table_name, col_idx, prop_id, round(score, 4) AS score FROM (
        | SELECT g.* FROM g WHERE NOT EXISTS (
        |   SELECT 1 FROM kc WHERE kc.table_name = g.table_name AND kc.col_idx = g.col_idx)
        | UNION ALL SELECT * FROM kc)""".stripMargin,

    "q_key_detection" ->
      """WITH cols AS (
        | SELECT 'cust' || c_nationkey AS tn, 0 AS ci, CAST(c_acctbal AS VARCHAR) AS v FROM customer
        | UNION ALL SELECT 'cust' || c_nationkey, 1, c_name FROM customer
        | UNION ALL SELECT 'cust' || c_nationkey, 2, c_mktsegment FROM customer),
        |st AS (SELECT tn, ci, count(*) AS n,
        |  sum(CASE WHEN regexp_matches(v, '^[+-]?(\d{1,3}(,\d{3})+|\d+\.?\d*|\.\d+)\s*(m|km|mi|ft|yd|in|cm|mm|kg|g|lb|t|mhz|khz|ghz|hz|kw|mw|gw|ha|%)?$', 'i') THEN 1 ELSE 0 END) AS nnum,
        |  sum(CASE WHEN regexp_matches(v, '^\d{4}-\d{2}-\d{2}([ T].*)?$|^(18|19|20|21)\d{2}$|^\d{1,2}/\d{1,2}/\d{4}$|^\d{1,2}/\d{1,2}/\d{2}$') THEN 1 ELSE 0 END) AS ndate,
        |  count(DISTINCT v) * 1.0 / count(v) AS uniq,
        |  count(v) * 1.0 / count(*) AS cov,
        |  avg(length(v)) AS avg_len,
        |  avg(CASE WHEN v IS NOT NULL AND length(v) > 0
        |    THEN CAST(length(regexp_replace(v, '[^0-9]', '', 'g')) AS DOUBLE) / length(v) END) AS digit_frac
        | FROM cols GROUP BY 1, 2),
        |strs AS (SELECT * FROM st WHERE NOT (ndate * 2 > n) AND NOT (nnum * 2 > n))
        |SELECT tn AS table_name, ci AS col_idx FROM strs
        |QUALIFY row_number() OVER (PARTITION BY tn ORDER BY
        |  (coalesce(avg_len, 0) < 4), uniq * (1 - coalesce(digit_frac, 0)) * cov DESC, ci) = 1""".stripMargin,

    "q_canonicalize" ->
      """SELECT p_partkey AS id,
        | regexp_replace('http://dbpedia.org/ontology/PopulatedPlace/' || replace(p_type, ' ', ''),
        |   '^(https?://dbpedia\.org/ontology)/[A-Z][^/]*/(.+)$', '\1/\2') AS uri
        |FROM part""".stripMargin,

    "q_eval_prf" ->
      """WITH p AS (SELECT DISTINCT p_partkey AS id FROM part WHERE p_size > 25),
        |g AS (SELECT DISTINCT p_partkey AS id FROM part WHERE p_size > 20),
        |c AS (SELECT (SELECT count(*) FROM p JOIN g USING (id)) AS tp,
        |  (SELECT count(*) FROM p) AS np, (SELECT count(*) FROM g) AS ng)
        |SELECT tp, np AS n_predicted, ng AS n_gold,
        | CAST(tp AS DOUBLE) / np AS prec, CAST(tp AS DOUBLE) / ng AS rec,
        | CASE WHEN CAST(tp AS DOUBLE) / np + CAST(tp AS DOUBLE) / ng = 0 THEN 0.0
        |  ELSE 2 * (CAST(tp AS DOUBLE) / np) * (CAST(tp AS DOUBLE) / ng) /
        |   ((CAST(tp AS DOUBLE) / np) + (CAST(tp AS DOUBLE) / ng)) END AS f1
        |FROM c""".stripMargin,

    "q_table_filter" ->
      """WITH keep AS (
        | SELECT p_brand FROM part GROUP BY 1
        | HAVING sum(CASE WHEN p_size <= 25 THEN 1 ELSE 0 END) * 1.0 / count(*) >= 0.5)
        |SELECT p_brand AS brand, count(*) AS n_rows FROM part
        |WHERE p_brand IN (SELECT p_brand FROM keep) GROUP BY 1""".stripMargin,

    "q_onetoone_score" ->
      """WITH e AS (SELECT p_brand AS gk, CAST(p_partkey % 3 AS INT) AS l,
        |  CAST((p_partkey // 3) % 3 AS INT) AS r,
        |  1.0 / (min(p_partkey) % 13 + 1) AS score
        | FROM part GROUP BY 1, 2, 3),
        |g AS (SELECT gk,
        |  coalesce(max(CASE WHEN l=0 AND r=0 THEN score END), 0) AS s00,
        |  coalesce(max(CASE WHEN l=0 AND r=1 THEN score END), 0) AS s01,
        |  coalesce(max(CASE WHEN l=0 AND r=2 THEN score END), 0) AS s02,
        |  coalesce(max(CASE WHEN l=1 AND r=0 THEN score END), 0) AS s10,
        |  coalesce(max(CASE WHEN l=1 AND r=1 THEN score END), 0) AS s11,
        |  coalesce(max(CASE WHEN l=1 AND r=2 THEN score END), 0) AS s12,
        |  coalesce(max(CASE WHEN l=2 AND r=0 THEN score END), 0) AS s20,
        |  coalesce(max(CASE WHEN l=2 AND r=1 THEN score END), 0) AS s21,
        |  coalesce(max(CASE WHEN l=2 AND r=2 THEN score END), 0) AS s22
        | FROM e GROUP BY gk)
        |SELECT gk AS group_key, round(greatest(
        |  s00 + s11 + s22, s00 + s12 + s21, s01 + s10 + s22,
        |  s01 + s12 + s20, s02 + s10 + s21, s02 + s11 + s20), 6) AS total_score
        |FROM g""".stripMargin,

    "q_reference_parity" ->
      s"""WITH o AS (SELECT DISTINCT id1, id2
        |  FROM read_csv('$parityOursCsv', header=true, all_varchar=true)),
        |r AS (SELECT DISTINCT column0 AS id1, column1 AS id2
        |  FROM read_csv('$parityRefCsv', header=false, all_varchar=true)),
        |c AS (SELECT (SELECT count(*) FROM o JOIN r USING (id1, id2)) AS tp,
        |  (SELECT count(*) FROM o) AS no, (SELECT count(*) FROM r) AS nr),
        |p AS (SELECT tp, no, nr,
        |  CASE WHEN no = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / no END AS prec,
        |  CASE WHEN nr = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / nr END AS rec
        | FROM c)
        |SELECT '$parityArtifactLabel' AS artifact,
        | tp, no AS n_ours, nr AS n_ref, prec, rec,
        | CASE WHEN prec + rec = 0 THEN 0.0
        |  ELSE 2 * prec * rec / (prec + rec) END AS f1
        |FROM p""".stripMargin,

    "q_onetoone_assign" ->
      """WITH e AS (SELECT p_brand AS gk, CAST(p_partkey % 2 AS INT) AS l,
        |  CAST((p_partkey // 2) % 2 AS INT) AS r,
        |  CAST(min(p_partkey) % 97 + 1 AS DOUBLE) AS score
        | FROM part GROUP BY 1, 2, 3),
        |g AS (SELECT gk,
        |  coalesce(max(CASE WHEN l=0 AND r=0 THEN score END), 0) AS s00,
        |  coalesce(max(CASE WHEN l=0 AND r=1 THEN score END), 0) AS s01,
        |  coalesce(max(CASE WHEN l=1 AND r=0 THEN score END), 0) AS s10,
        |  coalesce(max(CASE WHEN l=1 AND r=1 THEN score END), 0) AS s11
        | FROM e GROUP BY gk),
        |w AS (SELECT gk, s00 + s11 AS d, s01 + s10 AS a FROM g
        | WHERE abs((s00 + s11) - (s01 + s10)) > 1e-9)
        |SELECT e.gk AS group_key, e.l AS left_id, e.r AS right_id, e.score
        |FROM e JOIN w ON e.gk = w.gk
        |WHERE (w.d > w.a AND e.l = e.r) OR (w.a > w.d AND e.l <> e.r)""".stripMargin,

    "q_sf_basic" ->
      """WITH e AS (SELECT p_brand AS gk, CAST(p_partkey % 6 AS INT) AS l,
        |  CAST(p_partkey % 4 AS INT) AS r,
        |  CAST(min(p_partkey) % 11 + 1 AS DOUBLE) AS score
        | FROM part GROUP BY 1, 2, 3),
        |g AS (SELECT gk, count(*) AS n, sum(score) AS total FROM e GROUP BY gk),
        |rw AS (SELECT e.gk, e.l, e.r,
        |  CASE WHEN g.n > 1
        |   THEN e.score + (1.0 / (g.n - 1)) * (g.total - e.score)
        |   ELSE e.score END AS raw
        | FROM e JOIN g ON e.gk = g.gk),
        |m AS (SELECT gk, max(raw) AS mx FROM rw GROUP BY gk)
        |SELECT rw.gk AS group_key, rw.l AS left_id, rw.r AS right_id,
        | rw.raw / m.mx AS score
        |FROM rw JOIN m ON rw.gk = m.gk
        |WHERE rw.raw / m.mx >= 0.1""".stripMargin,

    // Flagship pipeline golden: the micro corpus is deterministic
    // (fixtures/MicroCorpus.scala — fixed tables, fixed KB, one planted
    // LCWA contradiction), so its full-pipeline triple set is a fixed
    // 10-row golden, pinned here as a VALUES table. Regenerate with
    // `runMain graft.tools.Tools golden` after any semantic change.
    "q_t2k_triples" ->
      """SELECT * FROM (VALUES
        | ('http://dbpedia.org/resource/Day_After', 'http://dbpedia.org/ontology/PopulatedPlace/author', 'gold amber', false, true),
        | ('http://dbpedia.org/resource/Day_Before', 'http://dbpedia.org/ontology/PopulatedPlace/author', 'clara west', false, true),
        | ('http://dbpedia.org/resource/Day_Go', 'http://dbpedia.org/ontology/PopulatedPlace/author', 'clara west', false, false),
        | ('http://dbpedia.org/resource/Free_University_Berlin', 'http://dbpedia.org/ontology/year', '1975', false, true),
        | ('http://dbpedia.org/resource/Gestern', 'http://dbpedia.org/ontology/PopulatedPlace/author', 'rachan thomas', false, true),
        | ('http://dbpedia.org/resource/Morgen', 'http://dbpedia.org/ontology/PopulatedPlace/author', 'manner thomas', false, true),
        | ('http://dbpedia.org/resource/Technical_University_Of_Darmstadt', 'http://dbpedia.org/ontology/year', '1945', false, true),
        | ('http://dbpedia.org/resource/Technical_University_Of_Munich', 'http://dbpedia.org/ontology/year', '1985', false, true),
        | ('http://dbpedia.org/resource/University_Of_Heidelberg', 'http://dbpedia.org/ontology/year', '1968', false, true),
        | ('http://dbpedia.org/resource/University_Of_Mannheim', 'http://dbpedia.org/ontology/year', '1989', false, true)
        |) AS t(subject_uri, predicate_uri, object_value, is_new, lcwa_correct)""".stripMargin,

    // Engine op order mirrored exactly: base_i = s_i + s_i (exact integer
    // double), total = Σ base (exact — integer-valued, order-free),
    // φ_i = (1.0/(n−1)) · (total − base_i) (one rounding), score = φ_i/max
    // (second rounding). n=1 groups: the engine floods to 0 and drops
    // them; excluded here explicitly (0/0 is NaN in DuckDB).
    "q_sf_formula_b" ->
      """WITH e AS (SELECT p_brand AS gk, CAST(p_partkey % 6 AS INT) AS l,
        |  CAST(p_partkey % 4 AS INT) AS r,
        |  CAST(min(p_partkey) % 11 + 1 AS DOUBLE) AS score
        | FROM part GROUP BY 1, 2, 3),
        |g AS (SELECT gk, count(*) AS n, sum(score + score) AS total FROM e GROUP BY gk),
        |rw AS (SELECT e.gk, e.l, e.r,
        |  (1.0 / (g.n - 1)) * (g.total - (e.score + e.score)) AS raw
        | FROM e JOIN g ON e.gk = g.gk WHERE g.n > 1),
        |m AS (SELECT gk, max(raw) AS mx FROM rw GROUP BY gk)
        |SELECT rw.gk AS group_key, rw.l AS left_id, rw.r AS right_id,
        | rw.raw / m.mx AS score
        |FROM rw JOIN m ON rw.gk = m.gk
        |WHERE m.mx > 0 AND rw.raw / m.mx >= 0.1""".stripMargin,

    // MinHash-LSH pair set recomputed from the dumped hash primitives:
    // signatures = per-permutation min over the doc's token hashes, band
    // key = the 8-value slice joined '_' (string equality mirrors the
    // engine's band-hash equality), bucket cap, pair join, exact-Jaccard
    // verify on distinct shared hashes over distinct-token set sizes.
    "q_minhash_lsh" ->
      s"""WITH toks AS (
         | SELECT doc_id, unnest($tokenSql) AS tok FROM documents),
         |th AS (SELECT t.doc_id, d.h FROM toks t
         | JOIN read_parquet('${oracleAux("minhash_tokens")}') d
         |  ON t.tok = d.token),
         |sig AS (SELECT th.doc_id, p.i, min(p.v) AS v
         | FROM th JOIN read_parquet('${oracleAux("minhash_perms")}') p
         |  ON th.h = p.h
         | GROUP BY th.doc_id, p.i),
         |band AS (SELECT doc_id, CAST(i // 8 AS INT) AS b,
         |  string_agg(CAST(v AS VARCHAR), '_' ORDER BY i) AS key
         | FROM sig GROUP BY doc_id, (i // 8)),
         |kept AS (SELECT * FROM band
         | QUALIFY count(*) OVER (PARTITION BY b, key) <= 10000),
         |cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
         | FROM kept x JOIN kept y ON x.b = y.b AND x.key = y.key
         |  AND x.doc_id < y.doc_id),
         |n AS (SELECT doc_id, count(DISTINCT tok) AS n FROM toks GROUP BY doc_id),
         |sh AS (SELECT c.id1, c.id2, count(DISTINCT a.h) AS s
         | FROM cand c JOIN th a ON a.doc_id = c.id1
         | JOIN th b2 ON b2.doc_id = c.id2 AND b2.h = a.h
         | GROUP BY c.id1, c.id2)
         |SELECT sh.id1, sh.id2,
         | CAST(s AS DOUBLE) / (n1.n + n2.n - s) AS jaccard
         |FROM sh JOIN n n1 ON n1.doc_id = sh.id1
         | JOIN n n2 ON n2.doc_id = sh.id2
         |WHERE CAST(s AS DOUBLE) / (n1.n + n2.n - s) >= 0.8""".stripMargin,

    // SimHash pair set recomputed from the dumped token-hash dictionary:
    // per-bit majority vote -> 64-bit fingerprint (bit 63 added as the
    // signed MIN_VALUE: DuckDB's << overflows at 63, and the partial sum
    // of bits 0-62 plus -2^63 lands exactly on the signed value), 4×16-bit
    // block keys via arithmetic >> + mask (sign-extension masked off,
    // matching Spark's shiftright), bucket cap 10000, xor/bit_count
    // Hamming <= 10. Validated against an independent reference kernel.
    "q_simhash_pairs" ->
      s"""WITH toks AS (
         | SELECT doc_id, unnest($tokenSql) AS tok FROM documents),
         |h AS (SELECT t.doc_id, ht.hash FROM toks t
         | JOIN read_parquet('${oracleAux("simhash_tokens")}') ht
         |  ON t.tok = ht.token),
         |bits AS (
         | SELECT doc_id, b,
         |  sum(CASE WHEN ((hash >> b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
         | FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bs
         | GROUP BY doc_id, b),
         |fp AS (
         | SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN
         |    CASE WHEN b = 63 THEN -9223372036854775808
         |     ELSE (1::BIGINT << CAST(b AS INT)) END
         |   ELSE 0 END) AS BIGINT) AS f
         | FROM bits GROUP BY doc_id),
         |blocks AS (
         | SELECT doc_id, f, blk, (f >> CAST(blk * 16 AS INT)) & 65535 AS key
         | FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS blk) bl),
         |kept AS (
         | SELECT * FROM blocks QUALIFY count(*) OVER (PARTITION BY blk, key) <= 10000),
         |cand AS (
         | SELECT DISTINCT x.doc_id AS id1, x.f AS f1, y.doc_id AS id2, y.f AS f2
         | FROM kept x JOIN kept y ON x.blk = y.blk AND x.key = y.key
         |  AND x.doc_id < y.doc_id)
         |SELECT id1, id2, CAST(bit_count(xor(f1, f2)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(f1, f2)) <= 10""".stripMargin,

    "q_embed_neardup" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE vec_id < 200),
        |planted AS (SELECT vec_id + 10000 AS vec_id,
        |  list_prepend(e[1] + 0.5, e[2:]) AS e FROM base WHERE vec_id < 50),
        |v AS (SELECT vec_id, e,
        |  sqrt((SELECT sum(x * x) FROM (SELECT unnest(e) AS x) z)) AS nrm
        | FROM (SELECT * FROM base UNION ALL SELECT * FROM planted)),
        |s AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  (SELECT sum(x * y) FROM (SELECT unnest(a.e) AS x, unnest(b.e) AS y) z)
        |    / (a.nrm * b.nrm) AS cosine
        | FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT id1, id2, round(cosine, 6) AS cosine FROM s WHERE cosine >= 0.85""".stripMargin,

    "q_ann_bruteforce" ->
      """WITH n AS (SELECT vec_id, embedding,
        |  sqrt((SELECT sum(x * x) FROM (SELECT unnest(embedding) AS x) z)) AS nrm
        | FROM embeddings),
        |q AS (SELECT * FROM n WHERE vec_id < 8),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  (SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(c.embedding) AS b) z)
        |    / (q.nrm * c.nrm) AS cosine
        | FROM q JOIN n c ON q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
        | row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) <= 5""".stripMargin,

    // IVF ANN: probe join + exact cosine + top-k recomputed in SQL from
    // the dumped cell assignment / probe lists (the trained quantiser is
    // the non-SQL primitive, same pattern as q_simhash_pairs).
    "q_ann_ivf" ->
      s"""WITH a AS (SELECT * FROM read_parquet('${oracleAux("ivf_assign")}')),
         |p AS (SELECT * FROM read_parquet('${oracleAux("ivf_probe")}')),
         |n AS (SELECT vec_id, embedding,
         |  sqrt((SELECT sum(x * x) FROM (SELECT unnest(embedding) AS x) z)) AS nrm
         | FROM embeddings),
         |s AS (SELECT p.id AS query_id, a.id AS neighbor_id,
         |  (SELECT sum(x * y) FROM (SELECT unnest(q.embedding) AS x, unnest(c.embedding) AS y) z)
         |    / (q.nrm * c.nrm) AS cosine
         | FROM p JOIN a ON a.cell = p.cell AND a.id <> p.id
         | JOIN n q ON q.vec_id = p.id
         | JOIN n c ON c.vec_id = a.id)
         |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
         | row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
         |FROM s
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) <= 5""".stripMargin
  )
}
