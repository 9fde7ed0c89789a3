package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Expression-tree reference forms of the per-row kernels in
  * [[TextAnalysis]], [[SimSearch]] and [[Dedup]]: the semantic definitions the
  * kernels are parity-gated against in OpsSpec. The production paths use
  * the kernels (these HOF trees are CodegenFallback and dominated both
  * Catalyst planning and evaluation). */
object ReferenceExprs {
  import TextAnalysis.tokensCol

  /** The original 3-exchange [[TextAnalysis.repetition]] pipeline. */
  def repetitionExpr(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     topNs: Seq[Int] = Seq(2, 3, 4),
                     dupNs: Seq[Int] = Seq(5, 10)): DataFrame = {
    val allNs = (topNs ++ dupNs).distinct.sorted
    val base = docs.select(col(idCol).as("docId"),
        tokensCol(col(textCol)).as("toks"))
      .withColumn("totalLen",
        length(concat_ws(" ", col("toks"))).cast("double"))
    // explode cheap (n, startIdx) index structs, compute the gram AFTER
    // the explode: the per-row array holds two ints per window instead
    // of built strings, and the hash/length stream through codegen
    val idxType = "array<struct<n:int,i:int>>"
    val idxArrays = allNs.map { n =>
      when(size(col("toks")) >= n,
        transform(sequence(lit(0), size(col("toks")) - n),
          i => struct(lit(n).as("n"), i.cast("int").as("i"))))
        .otherwise(lit(null).cast(idxType))
    }
    val gram = concat_ws(" ",
      slice(col("toks"), col("p.i") + lit(1), col("p.n")))
    val counts = base
      .select(col("docId"), col("totalLen"), col("toks"),
        explode(concat(idxArrays.map(a =>
          coalesce(a, array().cast(idxType))): _*)).as("p"))
      .select(col("docId"), col("totalLen"), col("p.n").as("n"),
        xxhash64(gram).as("gh"), length(gram).as("glen"))
      .groupBy(col("docId"), col("n"), col("gh"))
      .agg(count(lit(1)).as("cnt"), first(col("glen")).as("glen"),
        first(col("totalLen")).as("totalLen"))
    val perN = counts.groupBy(col("docId"), col("n"))
      .agg(
        least(max(col("cnt") * col("glen")) / first(col("totalLen")), lit(1.0))
          .as("topv"),
        least(coalesce(sum(when(col("cnt") >= 2, col("cnt") * col("glen"))),
          lit(0L)) / first(col("totalLen")), lit(1.0)).as("dupv"))
    val aggs = topNs.map(n =>
        max(when(col("n") === n, col("topv"))).as(s"top_${n}gram_char_frac")) ++
      dupNs.map(n =>
        max(when(col("n") === n, col("dupv"))).as(s"dup_${n}gram_char_frac"))
    val metrics = perN.groupBy(col("docId")).agg(aggs.head, aggs.tail: _*)
    val out = base.select(col("docId")).join(metrics, Seq("docId"), "left")
    val fracCols = topNs.map(n => s"top_${n}gram_char_frac") ++
      dupNs.map(n => s"dup_${n}gram_char_frac")
    fracCols.foldLeft(out) { (df, c) =>
      df.withColumn(c, coalesce(col(c), lit(0.0)))
    }.withColumnRenamed("docId", idCol)
  }

  /** Sign-bit LSH bucket id for one projection table: bits = sign of dot
    * with `nBits` hyperplane literals ([[SimSearch.bucketsKernel]]). */
  def signBucketExpr(vec: Column, table: Int, nBits: Int, dim: Int): Column = {
    val bits: Seq[Column] = (0 until nBits).map { b =>
      val plane = Array.tabulate(dim)(i => SimSearch.planeComponent(table, b, i))
      val proj = aggregate(zip_with(vec, typedLit(plane), (x, h) => x * h),
        lit(0.0d), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF cell choice as array_min / array_sort over (negDot, cell)
    * structs with aggregate(zip_with) dots ([[SimSearch.nearestCellKernel]],
    * [[SimSearch.probeCellsKernel]]). */
  def nearestCellExpr(vec: Column, cents: Array[Array[Double]]): Column =
    array_min(cellScores(vec, cents)).getField("cell")

  def cellScores(vec: Column, cents: Array[Array[Double]]): Column =
    array(cents.zipWithIndex.map { case (cArr, i) =>
      struct((lit(0.0d) - SimSearch.dot(vec, typedLit(cArr.toSeq))).as("negDot"),
        lit(i).as("cell"))
    }: _*)

  def probeCellsExpr(vec: Column, cents: Array[Array[Double]],
                     nProbe: Int): Column =
    transform(slice(array_sort(cellScores(vec, cents)), 1, nProbe),
      s => s.getField("cell"))

  /** MinHash signature as a HOF tree over the token hashes `hs`
    * ([[Dedup.sigKernel]]): permutation i is min over h of xxhash64(h, i). */
  def sigExprCol(hsCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(hsCol, h => xxhash64(h, i))))
}
