package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * token counting, quality scoring, stopword-based language ID, and
 * rolling-hash document fingerprinting. All pure Column expressions
 * (whole-stage codegen; no UDFs) so a 100 TB scan stays CPU-bound in
 * Tungsten, not in closure dispatch.
 */
object TextAnalysis {

  /** Whitespace + BPE-ish tokenisation column (lowercase alnum runs). */
  def tokensCol(text: Column): Column =
    filter(split(lower(regexp_replace(text, "[^a-zA-Z0-9]+", " ")), " "),
      t => t =!= "")

  /** Shingle-normalised text: lowercased, whitespace collapsed.
    * Explicit whitespace class, NOT \s: Java regex \s matches \x0B but
    * RE2 (the DuckDB oracle's engine) does not — the mirror must agree. */
  def normTextCol(text: Column): Column =
    lower(regexp_replace(text, "[ \\t\\n\\r\\f\\x0B]+", " "))

  /** Shingles of an ALREADY-normalised text column. IMPORTANT: pass a
    * bound attribute (a column projected in a previous select), not an
    * expression — the transform lambda re-evaluates its captured subtree
    * PER ELEMENT, so an inline normalisation here costs O(len) regex work
    * per shingle = O(len²) per document (measured: the whole
    * q_neardup_ngram wall). CollapseProject keeps the two-select split
    * intact because the norm column is non-cheap and multiply-referenced. */
  def shinglesOfNormCol(s: Column, n: Int): Column =
    when(length(s) >= n,
        transform(sequence(lit(0), length(s) - n), i => s.substr(i + 1, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Character n-gram shingles over the normalised text (lowercased,
    * whitespace collapsed): the boundary-free near-dup unit — catches
    * word-reordering/concatenation dups that token sets miss. Pure
    * codegen (substr over a sequence literal), no UDF; texts shorter
    * than n yield no shingles. Single-expression convenience form — the
    * hot paths (Dedup.shingleSets) bind the norm text first; see
    * [[shinglesOfNormCol]]. */
  def charShinglesCol(text: Column, n: Int): Column =
    shinglesOfNormCol(normTextCol(text), n)

  /** Per-document token count / char stats / punctuation + stopword ratios
    * and a composite quality score in [0,1]. */
  /** GPT-2-style pretokeniser: contractions, space-prefixed letter runs,
    * digit runs, punctuation runs (whitespace itself never counts). ASCII
    * classes + non-capturing groups only — valid under both
    * java.util.regex and RE2, so an external oracle can recount with the
    * same literal pattern. KNOWN CAVEAT (ADVICE r6 #2): the `\s` in the
    * final alternative is NOT engine-identical — Java's \s includes
    * U+000B (vertical tab), RE2's does not — so a document containing a
    * VT makes n_tokens_bpe diverge between Spark and a RE2-based oracle.
    * The synthetic corpora contain no VT (alnum + space + light ASCII
    * punctuation), and the pattern string is mirrored verbatim in the
    * frozen q_quality oracle SQL, so the divergence is documented rather
    * than fixed here; a future oracle-SQL revision should spell the class
    * out explicitly on both sides. */
  val BpeishPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+"

  /** A temp column name absent from `df` (case-insensitive, like Spark's
    * default resolver), so binding it never overwrites a caller column. */
  private def tempName(df: DataFrame, base: String): String =
    Iterator.iterate(base)("_" + _)
      .find(n => !df.columns.exists(_.equalsIgnoreCase(n))).get

  def quality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    // bind the token array ONCE: inline tokensCol references in several
    // output columns each re-ran the tokenisation regex per row
    // (withColumn projects don't share non-attribute subtrees)
    val toksName = tempName(docs, "_toks")
    val toks = col(toksName)
    val nTok = size(toks).cast("double")
    val nChar = length(text).cast("double")
    val nPunct = (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))).cast("double")
    val stop = Stopwords.en
    val nStop = size(filter(toks, t => t.isin(stop: _*))).cast("double")
    docs
      .withColumn(toksName, tokensCol(text))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_tokens_bpe",
        size(regexp_extract_all(text, lit(BpeishPattern), lit(0))).cast("long"))
      .withColumn("avg_token_len",
        when(nTok > 0, (nChar - (nTok - 1)) / nTok).otherwise(0.0))
      .withColumn("punct_ratio", when(nChar > 0, nPunct / nChar).otherwise(0.0))
      .withColumn("stopword_ratio", when(nTok > 0, nStop / nTok).otherwise(0.0))
      .withColumn("quality_score",
        when(nTok === 0, 0.0).otherwise(
          least(nTok / 100.0, lit(1.0)) * 0.5 +
            (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0))) * 0.25 +
            least(col("stopword_ratio") * 4.0, lit(1.0)) * 0.25))
      .drop(toksName)
  }

  /** Stopword-vote language ID: per language, count stopword hits in the
    * token set; argmax wins (ties -> language code DESC — greatest() on
    * (hits, lang) structs is lexicographic, so equal hit counts resolve
    * to the LARGER language code; the DuckDB oracle's fr>=es>=en>=de
    * cascade implements the same order, and OpsSpec pins a tie fixture);
    * no hits -> 'und'. */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // bind tokens and the winning struct ONCE: `best` inlined twice (hits
    // + lang) over inline tokens evaluated the 4-language vote cascade —
    // and the tokenisation under it — ~8x per row
    val toksName = tempName(docs, "_toks")
    val bestName = tempName(docs, "_best")
    val toks = col(toksName)
    val best = col(bestName)
    val votes = Stopwords.byLang.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("hits"),
        lit(lang).as("lang"))
    }
    // argmax by (hits desc, lang desc): greatest struct; struct ordering
    // is lexicographic on (hits, lang).
    docs.withColumn(toksName, tokensCol(col(textCol)))
      .withColumn(bestName, greatest(votes: _*))
      .withColumn("pred_lang",
        when(best.getField("hits") > 0, best.getField("lang")).otherwise("und"))
      .drop(toksName, bestName)
  }

  /** Rolling-hash fingerprint over the token sequence (chained xxhash64:
    * order-sensitive, overflow-free) — content-defined document identity
    * robust to whitespace/punctuation noise. */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokensCol(col(textCol))
    val fp = aggregate(toks, lit(0L), (acc, t) => xxhash64(acc, t))
    docs.withColumn("fingerprint", fp)
  }

  /**
   * Gopher/MassiveText-style repetition metrics over the tokenised text
   * (Rae et al. 2021 §A1.1, as commonly reimplemented): per document,
   *
   *  - `top_{n}gram_char_frac` (n in `topNs`): the largest character
   *    mass any single word n-gram accounts for — max over grams of
   *    count x gramCharLen, divided by the normalised text length
   *    (token chars + single separating spaces), capped at 1.0. Defined
   *    as the MAX of the product, so no most-frequent-gram tie-break is
   *    needed and the value is order-free.
   *  - `dup_{n}gram_char_frac` (n in `dupNs`): character mass of grams
   *    occurring 2+ times — sum of count x gramCharLen over duplicated
   *    grams / normalised length, capped at 1.0 (overlapping
   *    occurrences can overshoot; the standard approximation of the
   *    char-span-union definition).
   *
   * Documents with fewer than n tokens score 0.0 for that n.
   *
   * 100 TB shape: ONE pass over the text — every n's grams explode from
   * the same scan as n-tagged structs, so the document is read and
   * tokenised once for all five metrics (not once per n); one
   * (docId, n, gramHash) aggregation and one per-doc rollup, no joins.
   * The gram STRING exists only map-side inside the expression; the
   * exchange carries (docId, n, 8-byte hash, len, count). A 64-bit
   * collision merges two gram groups; the DuckDB oracle counts the gram
   * strings themselves, so a collision at verify scale fails the gate.
   */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 topNs: Seq[Int] = Seq(2, 3, 4),
                 dupNs: Seq[Int] = Seq(5, 10)): DataFrame = {
    val tNs = topNs.toArray
    val dNs = dupNs.toArray
    // null text tokenises to a null array: score it as the empty document
    val kernel = udf((toks: Seq[String]) =>
      repKernel(if (toks == null) Nil else toks, tNs, dNs))
    val names = topNs.map(n => s"top_${n}gram_char_frac") ++
      dupNs.map(n => s"dup_${n}gram_char_frac")
    val m = tempName(docs, "_m")
    docs.select(col(idCol), kernel(tokensCol(col(textCol))).as(m))
      .select(col(idCol) +:
        names.zipWithIndex.map { case (nm, i) => col(m)(i).as(nm) }: _*)
  }

  /** Per-document repetition kernel: one pass over the token array per n
    * — gram counts in a local hash map keyed by a chained-XXH64 window
    * key (same collision policy as the expression version's
    * xxhash64(gram string); the DuckDB oracle recounts gram STRINGS, so
    * a collision at verify scale fails the gate). All masses accumulate
    * as exact longs; each metric is ONE long/double division then
    * min(·, 1.0) — bit-identical to the expression pipeline's
    * max(cnt*glen)/totalLen fold (spec-pinned in OpsSpec). Replaces a
    * 3-exchange explode/groupBy cascade: the metrics are a pure function
    * of the row, so the distributed shape is a bare scan (guide §2.4). */
  private[ops] def repKernel(toks: Seq[String], topNs: Array[Int],
                             dupNs: Array[Int]): Array[Double] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val L = toks.length
    val lens = new Array[Int](L)
    val tk = new Array[Long](L)
    var totalChars = 0L
    var i = 0
    val it = toks.iterator
    while (it.hasNext) {
      val t = it.next()
      lens(i) = t.length
      totalChars += t.length
      val lo = scala.util.hashing.MurmurHash3.stringHash(t, 0x9747b28c).toLong & 0xFFFFFFFFL
      val hi = scala.util.hashing.MurmurHash3.stringHash(t, 0x85ebca6b).toLong & 0xFFFFFFFFL
      tk(i) = (hi << 32) | lo
      i += 1
    }
    val totalLen = if (L > 0) (totalChars + (L - 1)).toDouble else 0.0
    val allNs = (topNs ++ dupNs).distinct.sorted
    val topv = new java.util.HashMap[Int, java.lang.Double]()
    val dupv = new java.util.HashMap[Int, java.lang.Double]()
    val counts = new java.util.HashMap[java.lang.Long, Array[Long]]()
    allNs.foreach { n =>
      if (L >= n && totalLen > 0) {
        counts.clear()
        // prefix char sum not needed: glen of window [i, i+n) is
        // sum(lens) + (n-1); track with a rolling sum
        var winChars = 0L
        var j = 0
        while (j < n) { winChars += lens(j); j += 1 }
        var s = 0
        while (s + n <= L) {
          if (s > 0) winChars += lens(s + n - 1) - lens(s - 1)
          var h = n.toLong
          var j2 = s
          while (j2 < s + n) { h = XXH64.hashLong(tk(j2), h); j2 += 1 }
          val glen = winChars + (n - 1)
          val e = counts.get(h)
          if (e == null) counts.put(h, Array(1L, glen))
          else e(0) += 1L
          s += 1
        }
        var topMass = 0L
        var dupMass = 0L
        val eit = counts.values().iterator()
        while (eit.hasNext) {
          val e = eit.next()
          val mass = e(0) * e(1)
          if (mass > topMass) topMass = mass
          if (e(0) >= 2L) dupMass += mass
        }
        topv.put(n, math.min(topMass.toDouble / totalLen, 1.0))
        dupv.put(n, math.min(dupMass.toDouble / totalLen, 1.0))
      } else {
        topv.put(n, 0.0)
        dupv.put(n, 0.0)
      }
    }
    topNs.map(n => topv.get(n).doubleValue()) ++
      dupNs.map(n => dupv.get(n).doubleValue())
  }
}

object Stopwords {
  val en: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as", "at", "by", "this")
  val de: Seq[String] = Seq("der", "die", "das", "und", "oder", "von", "zu",
    "im", "ist", "es", "dass", "fur", "auf", "mit", "als", "bei", "ein", "eine")
  val fr: Seq[String] = Seq("le", "la", "les", "et", "ou", "de", "des", "du",
    "est", "il", "que", "pour", "sur", "avec", "dans", "par", "un", "une")
  val es: Seq[String] = Seq("el", "los", "las", "y", "o", "de", "del",
    "es", "que", "para", "sobre", "con", "en", "por", "un", "una", "se", "su")
  val byLang: Map[String, Seq[String]] =
    Map("en" -> en, "de" -> de, "fr" -> fr, "es" -> es)
}
