package graft.ops

import graft.checkpoint.Materialize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (array<float>).
 *
 *  - Brute-force cosine top-k: exact baseline; the dot product is a
 *    sequential `aggregate(zip_with(...))` fold — codegen'd, no UDF, and
 *    deterministic (stable summation order).
 *  - LSH-bucketed (random-hyperplane sign bits) variant: candidates share
 *    a bucket in at least one of `tables` sign-bit projections, then exact
 *    re-rank. At 10^12 rows the all-pairs join is impossible; the bucket
 *    join shuffles only (table, bucket) groups.
 *  - IVF coarse quantisation: k-means cells trained deterministically
 *    (hash-seeded init + exact-decimal Lloyd steps — no RNG, no MLlib
 *    dep, identical centroids at any parallelism), corpus vectors live in
 *    exactly one cell, queries probe their nProbe nearest cells, exact
 *    cosine re-ranks.
 */
object SimSearch {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Exact brute-force cosine top-k neighbours for each query vector.
   * queries/corpus: (idCol, vecCol). Corpus norms are precomputed once;
   * the query side is broadcast (queries << corpus at scale).
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("cosine"), col("rk"))
  }

  /** Deterministic hyperplane component in [-1, 1) from (table, bit, i):
    * splitmix64 finaliser — computed ONCE on the driver and shipped as an
    * array literal, so the per-row cost is a plain dot product (the
    * round-1 version evaluated tables × bits × dim xxhash64 calls per
    * row — 6144 hashes at dim 64). */
  private[ops] def planeComponent(table: Int, bit: Int, i: Int): Double = {
    var z = (table.toLong * 1000003L + bit.toLong) * 0x9E3779B97F4A7C15L + i.toLong
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  /** The hyperplane literals as a table (tab, bit, i, comp) — dumped to
    * parquet by the verify entry so an external oracle can recompute the
    * sign buckets, the bucket join and the cosine verify in plain SQL
    * (the q_minhash_lsh pattern: only the non-SQL primitive is dumped;
    * everything downstream is independently recomputed). */
  def hyperplaneTable(spark: SparkSession, tables: Int, nBits: Int,
                      dim: Int): DataFrame = {
    import spark.implicits._
    (for { t <- 0 until tables; b <- 0 until nBits; i <- 0 until dim }
      yield (t, b, i, planeComponent(t, b, i))).toDF("tab", "bit", "i", "comp")
  }

  /** All `tables` sign-bucket ids of one vector in a single pass: per
    * (table, bit), proj = i-ascending dot with the plane — the SAME fold
    * order as OpsSpec's expression form (aggregate(zip_with(...))), so every
    * double (and therefore every bucket id) is bit-identical
    * (OpsSpec-pinned). A vector whose length differs from `dim` gets
    * bucket 0 in every table, exactly like the expression's
    * null-propagating zip_with. ~100x smaller expression tree than the
    * tables × nBits HOF columns it replaces. */
  private[ops] def bucketsKernel(vec: Seq[Double], planes: Array[Array[Double]],
                                 tables: Int, nBits: Int, dim: Int): Array[Long] = {
    if (vec == null || vec.length != dim) return new Array[Long](tables)
    val out = new Array[Long](tables)
    val v = vec.toArray
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < nBits) {
        val p = planes(t * nBits + b)
        var acc = 0.0d
        var i = 0
        while (i < dim) { acc += v(i) * p(i); i += 1 }
        if (acc >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }

  private def planeRows(tables: Int, nBits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(tables * nBits) { tb =>
      Array.tabulate(dim)(i => planeComponent(tb / nBits, tb % nBits, i))
    }

  /** Column of all `tables` bucket ids (index = table) for a vector
    * column. The cast to array<double> mirrors the expression path's
    * per-element float→double promotion (exact, bit-identical). */
  private[ops] def allBucketsCol(vec: Column, tables: Int, nBits: Int, dim: Int): Column = {
    val planes = planeRows(tables, nBits, dim)
    val f = udf((v: Seq[Double]) => bucketsKernel(v, planes, tables, nBits, dim))
    f(vec.cast("array<double>"))
  }

  /** ANN via multi-table sign-bit LSH + exact re-rank. The bucket join
    * and the candidate distinct run on (id, tab, bucket) ROWS ONLY —
    * vectors re-attach to the distinct survivors for the exact re-rank
    * (guide §8: decide with small rows, move payloads once; the previous
    * shape shuffled qv/cv through the bucket join AND ran distinct over
    * the vector payload columns). An exact duplicate row counts once;
    * an id carried by two different vectors yields one row per (id,
    * vector), and a query id's top `k` span all its vectors. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, tables: Int = 8, nBits: Int = 12,
              dim: Int = 64, bucketCap: Int = 100000): DataFrame = {
    // distinct: a repeated input row must not multiply the output rows
    val q = Materialize(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")).distinct())
    val c = Materialize(corpus.select(col(idCol).as("cid"), col(vecCol).as("cv")).distinct())
    def bucketed(df: DataFrame, side: String): DataFrame =
      df.select(col(s"${side}id"),
          posexplode(allBucketsCol(col(s"${side}v"), tables, nBits, dim))
            .as(Seq("tab", "bucket")))
    val qb = bucketed(q, "q")
    val cb = Dedup.capBuckets(bucketed(c, "c"), Seq("tab", "bucket"), bucketCap)
    val cand = qb.join(cb, Seq("tab", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
    cand.join(q, "qid").join(c, "cid")
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("cosine"), col("rk"))
  }

  // --- IVF-style coarse quantisation --------------------------------------

  /** Deterministic IVF centroid training, Spark-native and order-free:
    * cells are seeded with the `nCells` corpus vectors of smallest
    * `xxhash64(id)` (a total order — no RNG, no sampling nondeterminism),
    * then refined by `iterations` Lloyd steps whose per-component means
    * accumulate in decimal(30,15) (exact, associative — identical
    * centroids at ANY parallelism level, the same guarantee the pipeline's
    * score sums carry). Returned centroids are unit-normalised so cosine
    * argmax over cells reduces to a plain dot-product argmax per row.
    * Driver-side state is nCells x dim doubles — trivial at any corpus
    * scale; each Lloyd step is one shuffle of (cell, pos) partial sums. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     nCells: Int, iterations: Int = 2): Array[Array[Double]] = {
    val base = corpus.select(col(idCol).as("cid"),
      col(vecCol).cast("array<double>").as("cv"))
    var cents: Array[Array[Double]] = base
      .withColumn("h", xxhash64(col("cid")))
      .orderBy(col("h"), col("cid")).limit(nCells)
      .select("cv").collect()
      .map(_.getSeq[Double](0).toArray)
    for (_ <- 0 until iterations) {
      val unit = cents.map(normalised)
      val sums = base
        .withColumn("cell", nearestCell(col("cv"), unit))
        .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum(col("x").cast("decimal(30,15)")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        val cell = r.getInt(0)
        next(cell)(r.getInt(1)) =
          (r.getDecimal(2).doubleValue() / r.getLong(3)) // empty cells keep seed
      }
      cents = next
    }
    cents.map(normalised)
  }

  private def normalised(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Index of the max-dot centroid: argmin of (-dot, cell) — the same
    * lexicographic order as the OpsSpec expression form, now a single
    * kernel (the nCells × dim aggregate/zip_with struct array was a
    * CodegenFallback tree re-planned per call). The per-cell dot is the
    * same i-ascending fold, so every double — and every cell choice —
    * is bit-identical (OpsSpec parity gate). */
  private[ops] def negDots(v: Seq[Double], cents: Array[Array[Double]]): Array[Double] = {
    val n = cents.length
    val out = new Array[Double](n)
    val a = v.toArray
    var c = 0
    while (c < n) {
      val cc = cents(c)
      val lim = math.min(a.length, cc.length)
      var acc = 0.0d
      var i = 0
      while (i < lim) { acc += a(i) * cc(i); i += 1 }
      out(c) = 0.0d - acc
      c += 1
    }
    out
  }

  private[ops] def nearestCellKernel(v: Seq[Double], cents: Array[Array[Double]]): Int = {
    val nd = negDots(v, cents)
    var best = 0
    var c = 1
    while (c < nd.length) {
      if (java.lang.Double.compare(nd(c), nd(best)) < 0) best = c
      c += 1
    }
    best
  }

  private[ops] def probeCellsKernel(v: Seq[Double], cents: Array[Array[Double]],
                                    nProbe: Int): Array[Int] = {
    val nd = negDots(v, cents)
    val idx = Array.range(0, nd.length)
    val boxed = idx.map(Integer.valueOf)
    java.util.Arrays.sort(boxed, new java.util.Comparator[Integer] {
      def compare(x: Integer, y: Integer): Int = {
        val d = java.lang.Double.compare(nd(x), nd(y))
        if (d != 0) d else Integer.compare(x, y)
      }
    })
    boxed.take(math.min(nProbe, boxed.length)).map(_.intValue())
  }

  private[ops] def nearestCell(vec: Column, cents: Array[Array[Double]]): Column = {
    val f = udf((v: Seq[Double]) => nearestCellKernel(v, cents))
    f(vec)
  }

  /** The `nProbe` nearest cells for a query vector, nearest first. */
  private[ops] def probeCells(vec: Column, cents: Array[Array[Double]],
                              nProbe: Int): Column = {
    val f = udf((v: Seq[Double]) => probeCellsKernel(v, cents, nProbe))
    f(vec)
  }

  /** Corpus-side cell assignment (one cell per vector) — exposed so sinks
    * and oracles can materialise the inverted file. */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                cents: Array[Array[Double]]): DataFrame =
    corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("_v"))
      .select(col("id"), nearestCell(col("_v"), cents).as("cell"))

  /** Query-side probe list (nProbe rows per query). */
  def ivfProbe(queries: DataFrame, idCol: String, vecCol: String,
               cents: Array[Array[Double]], nProbe: Int): DataFrame =
    queries.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("_v"))
      .select(col("id"),
        explode(probeCells(col("_v"), cents, nProbe)).as("cell"))

  /**
   * ANN via IVF: corpus vectors live in exactly ONE cell (so, unlike the
   * multi-table LSH leg, the candidate set needs no distinct), queries
   * probe their `nProbe` nearest cells, exact cosine re-ranks. `cellCap`
   * drops degenerate cells the same way capBuckets does for LSH. At 10^12
   * rows the inverted file is a bucketed parquet table partitioned by
   * cell; the probe join shuffles only the probed cells.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, cents: Array[Array[Double]],
              nProbe: Int = 4, cellCap: Int = 1000000): DataFrame =
    ivfTopKFromIndex(queries,
      ivfInvertedFile(corpus, idCol, vecCol, cents, cellCap),
      idCol, vecCol, k, cents, nProbe, excludeSelf = true)

  /** The inverted file of a corpus — (cid, cv, cell), cell-capped — the
    * STATIC side of [[ivfTopKFromIndex]]. Build it ONCE (at 10^12 rows: a
    * parquet table partitioned by `cell`, same `cents` as the probe side)
    * instead of re-assigning the corpus per query batch — this is what a
    * continuously-queried deployment (Streams.annQueries) persists. */
  def ivfInvertedFile(corpus: DataFrame, idCol: String, vecCol: String,
                      cents: Array[Array[Double]],
                      cellCap: Int = 1000000): DataFrame =
    Dedup.capBuckets(
      corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
        .withColumn("cell", nearestCell(col("cv").cast("array<double>"), cents)),
      Seq("cell"), cellCap)

  /** Probe a prebuilt inverted file: queries explode to their nProbe
    * nearest cells, join only those cells, exact cosine re-ranks.
    * `excludeSelf` drops cid == qid matches — correct ONLY for
    * self-search (queries drawn from the corpus, as in [[ivfTopK]]);
    * external queries (Streams.annQueries) must keep it false, or an id
    * collision across the two id spaces silently deletes a true
    * neighbor and shifts every rank below it. */
  def ivfTopKFromIndex(queries: DataFrame, invFile: DataFrame, idCol: String,
                       vecCol: String, k: Int, cents: Array[Array[Double]],
                       nProbe: Int = 4, excludeSelf: Boolean = false): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("cell",
        explode(probeCells(col("qv").cast("array<double>"), cents, nProbe)))
    q.join(invFile, Seq("cell"))
      .filter(if (excludeSelf) col("qid") =!= col("cid") else lit(true))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("cosine"), col("rk"))
  }

  /** Exact all-pairs cosine near-dup (id1 < id2, cosine >= threshold) —
    * correctness baseline; quadratic, small inputs only. The scale path is
    * [[cosineNearDupPairs]]. */
  def bruteForceNearDup(vectors: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    val a = vectors.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = vectors.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cosine", cosine(col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Embedding-cosine near-duplicate pairs (id1 < id2, cosine >= threshold)
    * via the same LSH bucketing — the embedding leg of Dedup. As in
    * [[lshTopK]], an id carried by two different vectors yields one row
    * per (id, vector). */
  def cosineNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, tables: Int = 8, nBits: Int = 12,
                         dim: Int = 64, bucketCap: Int = 100000): DataFrame = {
    // base feeds the bucket pass and both verify joins: scan/build once;
    // distinct, so a repeated input row does not multiply the pairs
    val base = Materialize(vectors.select(col(idCol).as("vid"), col(vecCol).as("vv")).distinct())
    // The bucket self-join and the pair distinct run on NARROW
    // (vid, tab, bucket) rows — the previous shape carried the vector
    // payload through the capBuckets join, the self-join AND a distinct
    // over the payload columns (guide §8: the shuffle only decides which
    // ids meet; vectors re-attach to the distinct survivors once).
    val buckets = Dedup.capBuckets(
      base.select(col("vid"),
        posexplode(allBucketsCol(col("vv"), tables, nBits, dim))
          .as(Seq("tab", "bucket"))),
      Seq("tab", "bucket"), bucketCap)
    val cand = buckets.alias("x").join(buckets.alias("y"), Seq("tab", "bucket"))
      .filter(col("x.vid") < col("y.vid"))
      .select(col("x.vid").as("id1"), col("y.vid").as("id2")).distinct()
    cand
      .join(base.select(col("vid").as("id1"), col("vv").as("v1")), "id1")
      .join(base.select(col("vid").as("id2"), col("vv").as("v2")), "id2")
      .withColumn("cosine", cosine(col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }
}
