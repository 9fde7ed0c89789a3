package graft.ops

import graft.checkpoint.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Deduplication operators for training-data pipelines, each designed
 * around the shuffle it costs at 100 TB:
 *
 *  - exact: one hash shuffle on the content key (or xxhash64(content) to
 *    keep shuffle rows narrow);
 *  - token-set Jaccard near-dup: token inverted-index self-join with
 *    stop-token cap — same machinery as the T2K candidate blocker;
 *  - MinHash + LSH: signatures via per-permutation xxhash64 min-hashing,
 *    banded into buckets; only bucket-colliding pairs are verified —
 *    shuffle is on (band, bucketHash), never all-pairs;
 *  - SimHash: 64-bit fingerprint; near-dups = equal fingerprints per
 *    rotation table (Hamming-adjacent buckets via bit-block keys);
 *  - embedding cosine near-dup lives in SimSearch.
 */
object Dedup {

  /** Exact dedup: keep the lowest id per identical content. Groups on the
    * raw text — fine when the output needs the text column; for the
    * narrow-shuffle variant at corpus scale see [[exactByHash]]. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col(textCol), col("n_copies"))

  /** Exact dedup with a NARROW shuffle: groups on xxhash64(content)
    * (8 bytes) instead of the text, so at 100 TB the document bodies
    * never enter the exchange — only hash + id + count cross the wire.
    * Returns (docId, content_hash, n_copies), lowest id kept per group.
    * A 64-bit collision (two distinct texts, same hash) would merge two
    * groups; at any realistic corpus cardinality the probability is
    * negligible, and the spec pins set-equality with [[exact]]. */
  def exactByHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("docId"), xxhash64(col(textCol)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("docId")).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("content_hash"), col("n_copies"))

  /** [[Materialize]] the hashed-set side with SCALE-ADAPTIVE partitioning
    * and DISK-ONLY storage.
    *
    * Partitioning: repartition by docId WITHOUT a fixed partition count,
    * so AQE sizes the post-shuffle partitions from the data (a handful
    * of rows collapse to one partition; a 10⁶-doc corpus spreads into
    * advisory-sized blocks) — without it the checkpoint inherits the
    * SCAN's file-packed splits (~13 partitions of ~400 MB on the 1M-doc
    * ledger corpus) and the kernel-heavy set-building stage is capped at
    * the input's split count.
    *
    * Storage: DISK_ONLY, deliberately. The shingle-mode hashed sets of a
    * 10⁶-doc corpus are larger than the whole unified pool (≈4 KB/doc
    * deserialized vs a 4.6 GB pool on the 8 GB bench JVM), and BOTH
    * memory-backed levels fail there, each in its own way:
    * MEMORY_AND_DISK_SER re-buffers whole disk-spilled blocks on-heap at
    * read time (BlockManager.maybeCacheDiskBytesInMemory → OOM), and
    * deserialized MEMORY_AND_DISK fills the pool with blocks pinned by
    * 32 concurrent readers' block locks until execution starves
    * ("UNABLE_TO_ACQUIRE_MEMORY ... got 0" with 4.6 GB held by storage
    * — both observed on the 1M-doc ledger this round). DISK_ONLY takes
    * storage memory out of the equation: writes stream to local disk
    * once, re-reads stream through the OS page cache (which IS the right
    * cache for data bigger than the heap), and execution keeps the whole
    * pool. At bench scale the sets are a few MB and the round trip is
    * page-cache-warm — measured within noise of the memory levels. */
  private def checkpointSets(sets: DataFrame): DataFrame =
    Materialize(sets.repartition(col("docId")), StorageLevel.DISK_ONLY)

  /** Distinct-token explode with per-doc set size (shared helper).
    * The empty-set filter is the CHEAP equivalent predicate `text RLIKE
    * '[a-zA-Z0-9]'` (a doc tokenises non-empty iff it has an alnum char)
    * applied BEFORE the projection: a post-projection filter(nTok > 0)
    * was pushed down by Catalyst with the whole tokenisation substituted
    * in, tokenising every row twice (guide §7.2: watch what the filter
    * drags into the scan). */
  def tokenSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).rlike("[a-zA-Z0-9]"))
      .select(col(idCol).as("docId"),
        array_distinct(TextAnalysis.tokensCol(col(textCol))).as("toks"))
      .withColumn("nTok", size(col("toks")))

  /** Distinct character-n-gram sets (the boundary-free analog of
    * [[tokenSets]]). Two-select shape on purpose: the norm text binds to
    * an attribute so the shingle lambda reads it instead of re-running
    * the normalisation regex per element (O(len²)/doc — measured as the
    * whole q_neardup_ngram wall); the empty-set filter is the cheap
    * equivalent `length(norm) >= n`. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                  gramSize: Int): DataFrame =
    docs.select(col(idCol).as("docId"),
        TextAnalysis.normTextCol(col(textCol)).as("_s"))
      .filter(length(col("_s")) >= gramSize)
      .select(col("docId"),
        array_distinct(TextAnalysis.shinglesOfNormCol(col("_s"), gramSize))
          .as("toks"))
      .withColumn("nTok", size(col("toks")))

  /**
   * Set-Jaccard near-duplicate pairs (docId1 < docId2, jaccard >=
   * threshold) over word tokens (gramSize = 0) or character n-grams
   * (gramSize = n). `dfCap` drops units shared by more than dfCap docs
   * from the index side (stop-token/stop-gram floor) — without it the
   * self-join explodes quadratically on Zipfian units; n1/n2 stay FULL
   * set sizes, so a capped unit can only lose recall, never inflate a
   * score.
   */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, dfCap: Long = 1000000,
                   gramSize: Int = 0): DataFrame = {
    // Materialisation barrier ([[checkpointSets]]): the set-building
    // expression feeds FOUR plan legs (a-side, b-side, two df-count
    // legs), and Catalyst additionally substitutes it into the pushed-down
    // size()>0 scan filter — without a barrier the O(set²) array_distinct
    // runs ~16× per doc (measured 13 s → 4.2 s on the 500-doc 5-gram
    // bench slice).
    //
    // 8-BYTE UNITS: the df count and the a×b inverted-index self-join key
    // on xxhash64(unit) — exactly [[hashedSets]] — so token/shingle TEXT
    // never enters an exchange (this was the engine's last string-keyed
    // hot shuffle; the 1M-doc jaccard_capped ledger row anti-scaled on
    // it). n1/n2 stay the full distinct-STRING set sizes; a 64-bit
    // collision could merge two units (the string-level DuckDB oracles
    // q_neardup_jaccard/q_neardup_ngram gate that, same policy as
    // exactByHash).
    val sets = checkpointSets(hashedSets(docs, idCol, textCol, gramSize))
    val toks = sets.select(col("docId"), col("nTok"),
      explode(array_distinct(col("hs"))).as("tok"))
    val kept = toks.join(
      toks.groupBy("tok").agg(count(lit(1)).as("df")).filter(col("df") <= dfCap)
        .select("tok"), "tok")
    val a = kept.select(col("tok"), col("docId").as("id1"), col("nTok").as("n1"))
    val b = kept.select(col("tok"), col("docId").as("id2"), col("nTok").as("n2"))
    a.join(b, "tok").filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("n1") + col("n2") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** One row per distinct word n-gram of the ORDERED token sequence:
    * (docId, gram) with gram = xxhash64 of the space-joined n tokens —
    * 8-byte keys, so the contamination join below never shuffles text. */
  private def wordGramHashes(docs: DataFrame, idCol: String,
                             textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("docId"),
        TextAnalysis.tokensCol(col(textCol)).as("toks"))
      // short docs yield an empty gram array (explode drops them) instead
      // of a filter(size(toks) >= n): Catalyst pushed that filter down
      // with the whole tokenisation substituted in, tokenising every row
      // twice (same lesson as tokenSets)
      .select(col("docId"), explode(array_distinct(
        when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => xxhash64(concat_ws(" ", slice(col("toks"), i + lit(1), lit(n))))))
          .otherwise(array().cast("array<bigint>"))))
        .as("gram"))

  /**
   * Benchmark decontamination: flag training documents sharing any word
   * n-gram with an evaluation/benchmark set (the GPT-3/PaLM-style
   * n = 13 overlap rule). Returns one row per CONTAMINATED training doc:
   * (docId, n_contaminated_grams, n_bench_docs) — distinct shared grams
   * and distinct benchmark documents hit.
   *
   * 100 TB shape: both sides reduce to (8-byte gram hash, id) rows
   * before the join — document text never enters the exchange. The
   * benchmark side is a fixed eval suite (thousands of docs, ~10⁶
   * grams), so AQE broadcasts it and the training side's gram explode
   * stays map-side; per-doc `array_distinct` bounds the explode at
   * |tokens| rows. A 64-bit gram-hash collision could flag a clean doc;
   * the DuckDB oracle joins on the gram STRINGS, so any collision at
   * verify scale fails the gate (same convention as [[exactByHash]]).
   */
  def contaminated(docs: DataFrame, idCol: String, textCol: String,
                   bench: DataFrame, benchIdCol: String, benchTextCol: String,
                   n: Int = 13): DataFrame =
    wordGramHashes(docs, idCol, textCol, n)
      .join(wordGramHashes(bench, benchIdCol, benchTextCol, n)
          .select(col("gram"), col("docId").as("benchId")).distinct(),
        Seq("gram"))
      .groupBy(col("docId"))
      .agg(countDistinct(col("gram")).as("n_contaminated_grams"),
        countDistinct(col("benchId")).as("n_bench_docs"))

  /**
   * Exact set-Jaccard near-dup pairs via AllPairs/PPJoin-style prefix
   * filtering — output-identical to UNCAPPED [[jaccardPairs]], but
   * recall-LOSSLESS where the dfCap trades tail recall for a bounded
   * worst case. Under a global (df, unit) order, two sets with J >= t
   * must share a unit among each one's p = n - ceil(t*n) + 1 RAREST
   * units (|A∩B| >= t*|A∪B| >= t*n, so the intersection cannot hide
   * entirely in the ceil(t*n)-1 most frequent units of either set); the
   * candidate join therefore touches only prefixes — the Zipfian head
   * units sort LAST and fall outside almost every prefix, collapsing the
   * quadratic blow-up without dropping anything. A length filter
   * (ceil(t*n1) <= n2 and vice versa) prunes further; candidates are
   * verified with exact Jaccard over the hashed sets. The epsilon inside
   * ceil guards FP noise from pushing an exactly-integral t*n up one
   * (which would shorten the prefix and silently lose pairs).
   */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                         threshold: Double, gramSize: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering needs 0 < threshold <= 1, got $threshold")
    def lb(n: Column): Column = ceil(n * lit(threshold) - lit(1e-9))
    // hashed sets reused by the df count, the prefix legs and the verify
    // join — materialised once, like jaccardPairs
    val hashed = checkpointSets(hashedSets(docs, idCol, textCol, gramSize))
    val occ = hashed.select(col("docId"), col("nTok"), explode(col("hs")).as("h"))
    val dfTab = occ.groupBy("h").agg(count(lit(1)).as("df"))
    // deliberately NOT checkpointed: the a/b candidate-join sides rebuild
    // the prefix (explode + df join + window) twice, but an eager barrier
    // here measured WORSE (2.0 -> 2.5 s steady-state on the bench slice —
    // the rebuild is broadcast-cheap while the barrier serialises the
    // window); revisit only if a profile shows the doubled window
    // dominating at a larger input
    val prefix = occ.join(dfTab, "h")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("docId")).orderBy(col("df"), col("h"))))
      .filter(col("rk") <= col("nTok") - lb(col("nTok")) + lit(1))
      .select(col("h"), col("docId"), col("nTok"))
    val cand = prefix.select(col("h"), col("docId").as("id1"), col("nTok").as("n1"))
      .join(prefix.select(col("h"), col("docId").as("id2"), col("nTok").as("n2")), "h")
      .filter(col("id1") < col("id2") &&
        col("n2") >= lb(col("n1")) && col("n1") >= lb(col("n2")))
      .select("id1", "id2").distinct()
    verifyJaccard(cand, hashed, threshold)
  }

  /** One-pass MinHash signature kernel: sig[i] = min over unit hashes h
    * of xxhash64(h, i). BIT-IDENTICAL to the Column expression
    * `transform(sequence(0, n-1), i -> array_min(transform(hs, h ->
    * xxhash64(h, i))))` (spec-pinned — xxhash64(h: long, i: int) folds as
    * XXH64.hashInt(i, XXH64.hashLong(h, seed = 42))), but allocation-free
    * where the higher-order-function tree is CodegenFallback and
    * materialises `numHashes` temp arrays PER ROW — measured the dominant
    * DRAM load of minhashLsh at 32 threads (one-socket box, 1M docs:
    * the HOF version inverted 8→32 scaling before the kernel swap). */
  private def sigKernel(hs: Seq[Long], numHashes: Int): Array[Long] = {
    val out = Array.fill(numHashes)(Long.MaxValue)
    val it = hs.iterator
    while (it.hasNext) {
      val base = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(it.next(), 42L)
      var i = 0
      while (i < numHashes) {
        val v = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, base)
        if (v < out(i)) out(i) = v
        i += 1
      }
    }
    out
  }

  /** The signature column for a non-empty `hs` array (read by
    * [[bandedRows]]). */
  private[ops] def sigCol(hsCol: Column, numHashes: Int): Column = {
    val f = udf((hs: Seq[Long]) => sigKernel(hs, numHashes))
    f(hsCol)
  }

  /** Drop LSH buckets holding more than `cap` members before a bucket
    * self-join: one degenerate bucket (all-identical band, boilerplate
    * shingles) otherwise becomes a quadratic task. A true near-dup pair
    * collides in SOME other band with high probability; the cap trades a
    * bounded recall sliver for a bounded worst case. */
  private[graft] def capBuckets(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    if (cap == Int.MaxValue) return df // uncapped: skip the size pass
    val sizes = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") <= cap).drop("_bsz")
    df.join(sizes, keys)
  }

  /**
   * MinHash-LSH candidate pairs: band the signature, bucket-join on
   * (band, bandHash), verify candidates with exact Jaccard.
   * numHashes = bands × rowsPerBand. S-curve threshold ~ (1/bands)^(1/rows).
   * `bucketCap` bounds the per-bucket join fan-out (see [[capBuckets]]).
   */
  /** (docId, nTok, hs): sorted-xxhash64 unit sets — every downstream
    * MinHash/verify step works on the 8-byte hashes, so unit text never
    * enters a shuffle (narrow rows at 100 TB). */
  private def hashedSets(docs: DataFrame, idCol: String, textCol: String,
                         gramSize: Int): DataFrame =
    (if (gramSize > 0) shingleSets(docs, idCol, textCol, gramSize)
      else tokenSets(docs, idCol, textCol))
      .select(col("docId"), col("nTok"),
        array_sort(transform(col("toks"), t => xxhash64(t))).as("hs"))

  /** Banding kernel shared by [[minhashLsh]] and [[minhashBuckets]]:
    * signature (numHashes arithmetic permutations of the unit hashes) →
    * one (band, bucket) row per band. SINGLE definition on purpose —
    * streaming probes (Streams.dedupDocs) are correct only because index
    * and probe band hashes come from the same expression. */
  private def bandedRows(hashed: DataFrame, numHashes: Int,
                         bands: Int): DataFrame = {
    val rows = numHashes / bands
    val bandCols = array((0 until bands).map(b =>
      xxhash64(concat_ws("_", slice(col("signature"), b * rows + 1, rows)))): _*)
    hashed.withColumn("signature", sigCol(col("hs"), numHashes))
      .select(col("docId"), col("nTok"), col("hs"),
        posexplode(bandCols).as(Seq("band", "bucket")))
  }

  /** Distinct-shared-value count of two SORTED long arrays — exactly
    * `size(array_intersect(a, b))` (a duplicated value counts once), as
    * a merge walk instead of ArrayIntersect's per-row hash set + result
    * array: allocation-free and O(|a|+|b|). The verify step runs this
    * once per CANDIDATE PAIR (2.7M pairs on the sf0.1 bench corpus), so
    * the per-pair constant is the operator's hot loop (guide §1.2 step
    * 2). Spec-pinned equal to array_intersect in OpsSpec. */
  private[graft] def sortedShared(a: Seq[Long], b: Seq[Long]): Int = {
    val la = a.length
    val lb = b.length
    var i = 0
    var j = 0
    var c = 0
    while (i < la && j < lb) {
      val vi = a(i)
      val vj = b(j)
      if (vi < vj) i += 1
      else if (vi > vj) j += 1
      else {
        c += 1
        while (i < la && a(i) == vi) i += 1
        while (j < lb && b(j) == vi) j += 1
      }
    }
    c
  }

  // Array[Long] signature on purpose: Spark extracts array<bigint> UDF
  // inputs as primitive long[] (toLongArray), so no per-element boxing
  // crosses the UDF boundary — at 1M docs the verify step processes
  // ~10^5-10^6 pairs x ~10^2-element sets per task
  private[graft] val sortedSharedUdf =
    udf((a: Array[Long], b: Array[Long]) =>
      sortedShared(scala.collection.immutable.ArraySeq.unsafeWrapArray(a),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(b)))

  /** Exact-Jaccard verification of candidate (id1, id2) pairs against the
    * hashed sets (64-bit collisions are negligible at any realistic
    * vocabulary) — shared by the LSH and prefix-filter paths. `hs` is
    * sorted (hashedSets), so shared = [[sortedShared]] merge walk. */
  private def verifyJaccard(cand: DataFrame, hashed: DataFrame,
                            threshold: Double): DataFrame =
    cand
      .join(hashed.select(col("docId").as("id1"), col("hs").as("t1"), col("nTok").as("n1")), "id1")
      .join(hashed.select(col("docId").as("id2"), col("hs").as("t2"), col("nTok").as("n2")), "id2")
      .withColumn("shared", sortedSharedUdf(col("t1"), col("t2")))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("n1") + col("n2") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")

  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 threshold: Double, numHashes: Int = 64, bands: Int = 16,
                 bucketCap: Int = 10000, gramSize: Int = 0): DataFrame = {
    // hashed is consumed by the signature pass and twice by the verify
    // join: materialised once ([[checkpointSets]])
    val hashed = checkpointSets(hashedSets(docs, idCol, textCol, gramSize))
    // the self-join runs on NARROW (docId, band, bucket) rows — hs stays
    // out of the bucket shuffle
    val banded = capBuckets(bandedRows(hashed, numHashes, bands)
      .select("docId", "band", "bucket"), Seq("band", "bucket"), bucketCap)
    val cand = banded.alias("x").join(banded.alias("y"), Seq("band", "bucket"))
      .filter(col("x.docId") < col("y.docId"))
      .select(col("x.docId").as("id1"), col("y.docId").as("id2")).distinct()
    verifyJaccard(cand, hashed, threshold)
  }

  /**
   * Banded LSH index rows of a corpus: (docId, nTok, hs, band, bucket),
   * one row per (doc, band), carrying the sorted hashed set for the
   * verify step. This is the STATIC side a stream of new documents
   * probes (see Streams.dedupDocs): at scale, write it once as a table
   * bucketed by (band, bucket) and every micro-batch probe is a
   * bounded join with no full-corpus rescan. Same `bucketCap` rationale
   * as [[minhashLsh]], applied at index-build time; identical
   * numHashes/bands/gramSize MUST be used on the probe side — the band
   * hashes are parameter-dependent.
   */
  def minhashBuckets(docs: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 64, bands: Int = 16,
                     bucketCap: Int = 10000, gramSize: Int = 0): DataFrame =
    capBuckets(bandedRows(hashedSets(docs, idCol, textCol, gramSize),
      numHashes, bands), Seq("band", "bucket"), bucketCap)

  /** 64-bit hash of a token (deterministic, pure Scala kernel). */
  private def tokenHash64(t: String): Long = {
    val lo = scala.util.hashing.MurmurHash3.stringHash(t, 0x9747b28c).toLong & 0xFFFFFFFFL
    val hi = scala.util.hashing.MurmurHash3.stringHash(t, 0x85ebca6b).toLong & 0xFFFFFFFFL
    (hi << 32) | lo
  }

  private val tokenHash64Udf = udf((t: String) => tokenHash64(t))

  /** Vocabulary-level (token, hash) dictionary of [[tokenHash64]] — the
    * one non-SQL-expressible piece of the simhash kernel. Dumped to
    * parquet by the verify entry so an external oracle (DuckDB) can
    * recompute signatures, blocks and the pair set in plain SQL from the
    * same hashes (see SparkEntry.q_simhash_pairs). */
  def tokenHashTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenSets(docs, idCol, textCol)
      .select(explode(col("toks")).as("token")).distinct()
      .withColumn("hash", tokenHash64Udf(col("token")))

  private val simhashUdf = udf((toks: Seq[String]) => {
    // SimHash kernel: per-bit majority vote over token hashes.
    val counts = new Array[Int](64)
    toks.foreach { t =>
      val h = tokenHash64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) fp |= (1L << b); b += 1 }
    fp
  })

  /** SimHash: 64-bit fingerprint — sign of per-bit vote sums over token
    * hashes. The kernel is a tight per-row Scala loop (64×|toks| bit ops
    * beat 64 separate array-scan expressions in codegen). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenSets(docs, idCol, textCol)
      .select(col("docId"), simhashUdf(col("toks")).as("simhash"))

  /** SimHash near-dup candidates: equal 16-bit blocks (4 tables) -> pairs
    * with Hamming distance <= maxHamming verified via bit_count. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bucketCap: Int = 10000): DataFrame = {
    val fps = simhash(docs, idCol, textCol)
    val blockCols = array((0 until 4).map(b =>
      shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*)
    val blocks = capBuckets(fps.select(col("docId"), col("simhash"),
      posexplode(blockCols).as(Seq("blk", "key"))), Seq("blk", "key"), bucketCap)
    val cand = blocks.alias("x").join(blocks.alias("y"), Seq("blk", "key"))
      .filter(col("x.docId") < col("y.docId"))
      .select(col("x.docId").as("id1"), col("x.simhash").as("f1"),
        col("y.docId").as("id2"), col("y.simhash").as("f2")).distinct()
    cand.withColumn("hamming", bit_count(col("f1").bitwiseXOR(col("f2"))))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }
}
