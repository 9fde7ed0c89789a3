package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different content here entirely"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "der hund und die katze sind im haus"),
    (6L, "")).toDF("doc_id", "text")

  test("exact dedup keeps lowest id and counts copies") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) === 2L) // docs 1 and 4
    assert(!out.contains(4L))
  }

  test("jaccard near-dup pairs find the near pair, not the distinct one") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // 8/10 shared distinct tokens
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("hash-keyed exact dedup equals raw-text grouping") {
    val d = Seq((5L, "same text"), (2L, "same text"), (9L, "same text"),
      (3L, "other"), (7L, "third text")).toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.select("doc_id", "n_copies")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byText = key(Dedup.exact(d, "doc_id", "text"))
    val byHash = key(Dedup.exactByHash(d, "doc_id", "text"))
    assert(byText === Set((2L, 3L), (3L, 1L), (7L, 1L)))
    assert(byHash === byText)
  }

  test("char n-gram jaccard catches concatenation dups token sets miss") {
    // shingle golden: normalisation collapses whitespace, full grams only
    val sh = Seq(Tuple1("AB  cd")).toDF("text")
      .select(TextAnalysis.charShinglesCol($"text", 3).as("g"))
      .collect().head.getSeq[String](0)
    assert(sh === Seq("ab ", "b c", " cd"))
    assert(Seq(Tuple1("ab")).toDF("text")
      .select(TextAnalysis.charShinglesCol($"text", 3).as("g"))
      .collect().head.getSeq[String](0).isEmpty)
    // "alphabeta" vs "alpha beta": token sets nearly disjoint, 4-gram
    // sets mostly shared — the boundary-free leg exists for exactly this
    val d = Seq((1L, "alpha beta gamma delta"),
      (2L, "alphabeta gamma delta")).toDF("doc_id", "text")
    def j(gram: Int) = Dedup.jaccardPairs(d, "doc_id", "text", 0.0, 100, gram)
      .collect().head.getDouble(2)
    assert(j(4) > j(0), s"ngram ${j(4)} should beat token ${j(0)}")
    assert(j(0) < 0.5 && j(4) > 0.5)
  }

  test("minhash-LSH finds the same near-dups as exact jaccard") {
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((1L, 4L))) // identical docs always collide
    assert(lsh.contains((1L, 2L)))
    assert(!lsh.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash-LSH recall >= 0.9 vs exact jaccard on a generated corpus") {
    // 200 base docs over a 2000-word vocabulary + 100 near-dup copies with
    // one token substituted — the ground truth is the exact token-Jaccard
    // pair set at the LSH S-curve threshold.
    val rnd = new scala.util.Random(42)
    val vocab = Array.tabulate(2000)(i => s"w${i}x${rnd.nextInt(1000)}")
    val base = (0 until 200).map { i =>
      (i.toLong, Array.fill(12)(vocab(rnd.nextInt(vocab.length))).distinct.mkString(" "))
    }
    val near = (0 until 100).map { i =>
      val toks = base(i)._2.split(" ")
      toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length))
      (1000L + i, toks.mkString(" "))
    }
    val corpus = (base ++ near).toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(corpus, "doc_id", "text", 0.8,
      numHashes = 64, bands = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture produced no exact near-dups")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} true pairs")
    // precision is 1.0 by construction (exact-jaccard verify step)
    assert(lsh.subsetOf(exact))
  }

  test("prefix-filtered jaccard is output-identical to the exhaustive join") {
    // token mode on the generated near-dup corpus (same shape as the LSH
    // recall fixture) + shingle mode on char-edited copies; both compared
    // pair-for-pair INCLUDING scores against uncapped jaccardPairs
    val rnd = new scala.util.Random(19)
    val vocab = Array.tabulate(1500)(i => s"v${i}q${rnd.nextInt(997)}")
    val base = (0 until 150).map { i =>
      (i.toLong, Array.fill(10)(vocab(rnd.nextInt(vocab.length))).distinct.mkString(" "))
    }
    val near = (0 until 80).map { i =>
      val toks = base(i)._2.split(" ")
      toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length))
      (1000L + i, toks.mkString(" "))
    }
    val corpus = (base ++ near).toDF("doc_id", "text")
    for ((th, gram) <- Seq((0.5, 0), (0.8, 0), (0.5, 5))) {
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
      val exhaustive = Dedup.jaccardPairs(corpus, "doc_id", "text", th,
        dfCap = Long.MaxValue, gramSize = gram).collect().map(key).toSet
      val prefixed = Dedup.jaccardPairsPrefix(corpus, "doc_id", "text", th,
        gramSize = gram).collect().map(key).toSet
      assert(exhaustive.nonEmpty, s"fixture empty at th=$th gram=$gram")
      assert(prefixed === exhaustive, s"th=$th gram=$gram: " +
        s"missing=${(exhaustive -- prefixed).size} extra=${(prefixed -- exhaustive).size}")
    }
    // threshold 1.0 edge: prefix collapses to the single rarest unit,
    // exact-duplicate pairs must survive
    val dup = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta delta")).toDF("doc_id", "text")
    val ones = Dedup.jaccardPairsPrefix(dup, "doc_id", "text", 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ones === Set((1L, 2L)))
  }

  test("shingle-minhash-LSH recall >= 0.9 vs exact n-gram jaccard") {
    // the canonical shingle→minhash→band→bucket pipeline: near-dup copies
    // differ by one in-place character edit, so char-5-gram sets stay
    // >0.8 similar while the LSH only ever sees the 8-byte shingle hashes
    val rnd = new scala.util.Random(7)
    val base = (0 until 150).map { i =>
      (i.toLong, Array.fill(25)(s"w${rnd.nextInt(5000)}x${rnd.nextInt(997)}").mkString(" "))
    }
    val near = (0 until 80).map { i =>
      val cs = base(i)._2.toCharArray
      cs(10 + rnd.nextInt(cs.length - 10)) = ('a' + rnd.nextInt(26)).toChar
      (1000L + i, new String(cs))
    }
    val corpus = (base ++ near).toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", 0.8,
        dfCap = 1000000, gramSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(corpus, "doc_id", "text", 0.8,
        numHashes = 64, bands = 16, gramSize = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 50, s"fixture too weak: ${exact.size} true pairs")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"shingle-LSH recall $recall over ${exact.size}")
    assert(lsh.subsetOf(exact)) // verify step keeps precision 1.0
  }

  test("embedding LSH near-dup recalls the brute-force pairs (planted dups)") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 150).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val planted = (0 until 60).map { i =>
      (10000L + i, base(i)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f))
    }
    val vecs = (base ++ planted).toDF("vec_id", "embedding")
    val exact = SimSearch.bruteForceNearDup(vecs, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimSearch.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 50, s"expected planted pairs, got ${exact.size}")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"embed LSH recall $recall over ${exact.size} pairs")
    assert(lsh.subsetOf(exact)) // exact verify step => precision 1.0
  }

  test("simhash: identical docs equal, near docs close, far docs far") {
    val fps = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(1L), fps(2L)) < ham(fps(1L), fps(3L)))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("repetition metrics match hand-computed Gopher-style fractions") {
    val docs = Seq(
      // toks [a,b,a,b,a,b], normalised "a b a b a b" (11 chars):
      // 2-grams "a b"x3 (mass 9), "b a"x2 (mass 6) -> top2 = 9/11;
      // 3-grams "a b a"x2 (mass 10), "b a b"x2 (10) -> top3 = 10/11;
      // 5-grams each occur once -> dup5 = 0
      (1L, "a b a b a b"),
      // toks [x,x,x,x] (7 chars): "x x"x3 mass 9 -> capped at 1.0;
      // 5-gram window empty (4 tokens) -> dup5 = 0
      (2L, "x x x x"),
      // no repeated grams at all
      (3L, "one two three four five six"),
      // 10 tokens, 5-gram "p q r s t" occurs twice (chars 9, count 2,
      // mass 18; normalised len 19) -> dup5 = 18/19; dup10 window has
      // one gram, not duplicated -> 0
      (4L, "p q r s t p q r s t"),
      // null and empty text: no tokens -> every metric 0.0
      (5L, null),
      (6L, "")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetition(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Double]("top_2gram_char_frac") === 9.0 / 11)
    assert(m(1L).getAs[Double]("top_3gram_char_frac") === 10.0 / 11)
    assert(m(1L).getAs[Double]("dup_5gram_char_frac") === 0.0)
    assert(m(2L).getAs[Double]("top_2gram_char_frac") === 1.0)
    assert(m(2L).getAs[Double]("dup_5gram_char_frac") === 0.0)
    // no gram repeats -> mass = the LONGEST 2-gram ("three four", 10)
    assert(m(3L).getAs[Double]("top_2gram_char_frac") ===
      ("three four".length).toDouble / "one two three four five six".length)
    assert(m(3L).getAs[Double]("dup_5gram_char_frac") === 0.0)
    assert(m(4L).getAs[Double]("dup_5gram_char_frac") === 18.0 / 19)
    assert(m(4L).getAs[Double]("dup_10gram_char_frac") === 0.0)
    for (id <- Seq(5L, 6L); c <- m(id).schema.fieldNames.filter(_ != "doc_id"))
      assert(m(id).getAs[Double](c) === 0.0, s"doc $id $c")
  }

  test("benchmark decontamination: 13-gram overlap flags, 12-gram does not") {
    // a distinctive 13-token benchmark sentence
    val bench13 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike"
    val bench = Seq((900L, s"eval question says $bench13 end of prompt"),
      (901L, s"second eval item repeats $bench13 too")).toDF("doc_id", "text")
    val train = Seq(
      // contains the full 13-gram (plus noise around it) -> contaminated,
      // and it hits BOTH benchmark docs
      (1L, s"some crawl page where $bench13 appears verbatim"),
      // only the first 12 of the 13 tokens -> clean at n = 13
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima zulu"),
      (3L, "entirely unrelated training document about databases")
    ).toDF("doc_id", "text")
    val out = Dedup.contaminated(train, "doc_id", "text", bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet === Set(1L))
    assert(out(1L)._1 === 1L) // exactly the one shared 13-gram
    assert(out(1L)._2 === 2L) // present in both benchmark docs
  }

  test("quality + langid + fingerprint") {
    val q = TextAnalysis.quality(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    assert(q(1L) === 9L && q(6L) === 0L)
    // BPE-ish pretokeniser: contractions split off, punctuation runs and
    // digit runs count, whitespace never does
    val bpe = TextAnalysis.quality(Seq(
        (1L, "don't stop, it's 42 meters-long!"), (2L, "")).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens_bpe")).toMap
    // don | 't | _stop | , | _it | 's | _42 | _meters | - | long | !
    assert(bpe(1L) === 11L)
    assert(bpe(2L) === 0L)
    val langs = TextAnalysis.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(langs(1L) === "en")
    assert(langs(5L) === "de")
    assert(langs(6L) === "und")
    val fp = TextAnalysis.fingerprint(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fingerprint")).toMap
    assert(fp(1L) === fp(4L))
    assert(fp(1L) !== fp(2L))
  }

  test("brute-force cosine top-k is exact and deterministic") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = SimSearch.bruteForceTopK(vecs.filter($"vec_id" === 0), vecs,
      "vec_id", "embedding", 2).collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(out.head._1 === 1L) // nearest neighbour of e0 is e1
  }

  test("LSH ANN recalls the exact top-1 on clustered data") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(8)(Array.fill(64)(rnd.nextFloat()))
    val vecs = (0 until 64).map { i =>
      val c = base(i % 8)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }.toDF("vec_id", "embedding")
    val exact = SimSearch.bruteForceTopK(vecs.filter($"vec_id" < 4), vecs,
      "vec_id", "embedding", 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ann = SimSearch.lshTopK(vecs.filter($"vec_id" < 4), vecs,
      "vec_id", "embedding", 1, tables = 8, nBits = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same-cluster neighbour recalled for most queries
    val hits = exact.keys.count(q => ann.get(q).contains(exact(q)))
    assert(hits >= 3, s"ann=$ann exact=$exact")
  }

  test("LSH ANN: a repeated input row gives the same output as the deduplicated input") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(8)(Array.fill(64)(rnd.nextFloat()))
    val vecs = (0 until 64).map { i =>
      val c = base(i % 8)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }.toDF("vec_id", "embedding")
    def topK(df: org.apache.spark.sql.DataFrame) =
      SimSearch.lshTopK(df.filter($"vec_id" < 4), df, "vec_id", "embedding", 3,
          tables = 8, nBits = 8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq.sorted
    val expected = topK(vecs)
    assert(expected.nonEmpty)
    // queries 0-3 and corpus rows 0-15 each appear twice
    assert(topK(vecs.unionByName(vecs.filter($"vec_id" < 16))) === expected)
  }

  test("embedding LSH near-dup: a repeated input row gives the same pairs as the deduplicated input") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 40).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val planted = (0 until 20).map { i =>
      (10000L + i, base(i)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f))
    }
    val vecs = (base ++ planted).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      SimSearch.cosineNearDupPairs(df, "vec_id", "embedding", 0.99).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .sortBy(p => (p._1, p._2))
    val expected = pairs(vecs)
    assert(expected.nonEmpty)
    // the planted pairs' both sides appear twice
    assert(pairs(vecs.unionByName(vecs.filter($"vec_id" < 10 || $"vec_id" >= 10000L))) ===
      expected)
  }

  test("LSH ops: an id carried by two different vectors yields one row per (id, vector)") {
    val rnd = new scala.util.Random(13)
    val v = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    def near() = v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.002f)
    val far = (3 until 40).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    // id 1 carries two different vectors, both near id 2's
    val vecs = (Seq((1L, near()), (1L, near()), (2L, near())) ++ far)
      .toDF("vec_id", "embedding")
    val pairs = SimSearch.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.99)
      .filter($"id1" === 1L && $"id2" === 2L).select("cosine").as[Double].collect()
    assert(pairs.length === 2 && pairs.distinct.length === 2, pairs.mkString(","))
    val ann = SimSearch.lshTopK(vecs.filter($"vec_id" === 2L), vecs,
        "vec_id", "embedding", 3)
      .filter($"cid" === 1L).select("cosine").as[Double].collect()
    assert(ann.length === 2 && ann.distinct.length === 2, ann.mkString(","))
  }

  test("minhash signature kernel is bit-identical to the expression tree") {
    // the one-pass UDF kernel replaced the CodegenFallback HOF tree for
    // DRAM reasons; the LSH oracle (q_minhash_lsh) recomputes signatures
    // from dumped xxhash64 primitives, so any drift would also break the
    // CORRECTNESS row — this pins it at the unit level with both widths
    val hashed = Dedup.tokenSets(docs, "doc_id", "text")
      .withColumn("hs", array_sort(transform(col("toks"), t => xxhash64(t))))
    for (n <- Seq(16, 64)) {
      val both = hashed.select(col("docId"),
        Dedup.sigCol(col("hs"), n).as("k"),
        ReferenceExprs.sigExprCol(col("hs"), n).as("e")).collect()
      assert(both.nonEmpty)
      both.foreach(r => assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"doc ${r.getLong(0)} n=$n"))
    }
  }

  test("repetition kernel is value-identical to the expression pipeline") {
    // the per-row kernel replaced the 3-exchange explode/groupBy cascade;
    // every mass is an exact long and each metric one long/double
    // division, so kernel and expression must agree BIT-for-bit on any
    // non-hash-colliding corpus (the q_repetition oracle recounts gram
    // strings, gating collisions independently)
    val rnd = new scala.util.Random(23)
    val gen = (0 until 120).map { i =>
      val toks = Array.fill(5 + rnd.nextInt(40))(s"t${rnd.nextInt(30)}")
      (i.toLong, toks.mkString(" "))
    }
    val corpus = (gen ++ Seq((900L, ""), (901L, "one"),
      (902L, "a b a b a b"), (903L, "!!! ??? ..."))).toDF("doc_id", "text")
    val cols = Seq("top_2gram_char_frac", "top_3gram_char_frac",
      "top_4gram_char_frac", "dup_5gram_char_frac", "dup_10gram_char_frac")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        cols.map(c => r.getAs[Double](c))).toMap
    val kernel = m(TextAnalysis.repetition(corpus))
    val expr = m(ReferenceExprs.repetitionExpr(corpus))
    assert(kernel.keySet === expr.keySet)
    kernel.foreach { case (id, vs) =>
      assert(vs === expr(id), s"doc $id kernel=$vs expr=${expr(id)}") }
  }

  test("sign-bucket kernel is bit-identical to the expression tree") {
    val rnd = new scala.util.Random(31)
    val vecs = ((0 until 60).map(i =>
        (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))) ++
      Seq((900L, Array.fill(32)(rnd.nextFloat()))) // wrong dim -> bucket 0
      ).toDF("vec_id", "embedding")
    val tables = 4; val nBits = 12; val dim = 64
    val exprCols = array((0 until tables).map(t =>
      ReferenceExprs.signBucketExpr(col("embedding"), t, nBits, dim)): _*)
    val both = vecs.select(col("vec_id"),
      SimSearch.allBucketsCol(col("embedding"), tables, nBits, dim).as("k"),
      exprCols.as("e")).collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"vec ${r.getLong(0)}")
    }
  }

  test("IVF cell kernels are value-identical to the expression forms") {
    val rnd = new scala.util.Random(37)
    val vecs = (0 until 80).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextDouble() * 2 - 1))).toDF("vec_id", "v")
      .withColumn("v", col("v").cast("array<double>"))
    val cents = Array.fill(7)(Array.fill(16)(rnd.nextDouble() * 2 - 1))
    val both = vecs.select(col("vec_id"),
      SimSearch.nearestCell(col("v"), cents).as("nk"),
      ReferenceExprs.nearestCellExpr(col("v"), cents).as("ne"),
      SimSearch.probeCells(col("v"), cents, 3).as("pk"),
      ReferenceExprs.probeCellsExpr(col("v"), cents, 3).as("pe")).collect()
    both.foreach { r =>
      assert(r.getInt(1) === r.getInt(2), s"nearest vec ${r.getLong(0)}")
      assert(r.getSeq[Int](3) === r.getSeq[Int](4), s"probe vec ${r.getLong(0)}")
    }
  }

  test("sortedShared merge walk equals size(array_intersect) on sorted sets") {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 200).map { i =>
      val a = Array.fill(1 + rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Array.fill(1 + rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      (i, a.toSeq, b.toSeq)
    } :+ ((999, Seq.empty[Long], Seq(1L, 2L)))
    rows.foreach { case (i, a, b) =>
      assert(Dedup.sortedShared(a, b) === a.toSet.intersect(b.toSet).size, s"row $i")
    }
    // duplicated values count once, exactly like array_intersect
    assert(Dedup.sortedShared(Seq(1L, 1L, 2L, 3L), Seq(1L, 3L, 3L)) === 2)
  }

  test("langId tie-break: equal hit counts resolve to the larger lang code") {
    // one stopword from en ("the") and one from fr ("le"): 1-1 tie ->
    // documented DESC order picks fr over en (matches the DuckDB
    // oracle's fr>=es>=en>=de cascade)
    val tie = Seq((1L, "the le zebra"), (2L, "und der la les zebra")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(tie).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(out(1L) === "fr") // en 1 hit, fr 1 hit -> fr (desc)
    assert(out(2L) === "fr") // de 2 hits ("und","der"), fr 2 hits -> fr
  }

  test("quality and langId keep caller columns named like their temps") {
    // both ops bind temp columns internally; a caller column that shares
    // a temp's name must come back unchanged, not overwritten and dropped
    val in = Seq((1L, "the quick brown fox", "keep-toks", 7))
      .toDF("doc_id", "text", "_toks", "_best")
    def callerCols(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "_toks", "_best").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val expected = Seq((1L, "keep-toks", 7))
    val q = TextAnalysis.quality(in)
    assert(callerCols(q) === expected)
    assert(q.select("n_tokens").head().getLong(0) === 4L)
    val l = TextAnalysis.langId(in)
    assert(callerCols(l) === expected)
    assert(l.select("pred_lang").head().getString(0) === "en")
  }

  test("repetition keeps a caller id column named like its temp") {
    // the metric array binds to a temp column; an id column sharing the
    // temp's name must neither clash with it nor be replaced by it
    val in = Seq((7L, "a b a b a b")).toDF("_m", "text")
    val out = TextAnalysis.repetition(in, idCol = "_m").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(7L))
    assert(out.head.getAs[Double]("top_2gram_char_frac") === 9.0 / 11)
  }

  test("real image decode: PNG round trip pins the exact block-sum feature") {
    // known 2x2 image; the 16x16 nearest-neighbour resample tiles each
    // pixel over an 8x8 block, so each 4x4 feature cell sums 16 copies of
    // one pixel's luma — closed-form expected values
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    def g(v: Int) = (v << 16) | (v << 8) | v
    img.setRGB(0, 0, g(0)); img.setRGB(1, 0, g(255))
    img.setRGB(0, 1, g(100)); img.setRGB(1, 1, g(200))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val f = Multimodal.decodeImage(bos.toByteArray)
    val top = Seq(0f, 0f, 4080 / 4096f, 4080 / 4096f)
    val bot = Seq(1600 / 4096f, 1600 / 4096f, 3200 / 4096f, 3200 / 4096f)
    assert(f.toSeq === top ++ top ++ bot ++ bot)
    // corrupt / non-image / null bytes: null feature, never an exception
    assert(Multimodal.decodeImage("not a png".getBytes) === null)
    assert(Multimodal.decodeImage(null) === null)
  }

  test("synthetic PNG encode->decode->feature matches the closed form") {
    val ref = "42"
    val seed = Multimodal.refSeed(ref) // '4' + '2' = 52 + 50
    assert(seed === 102)
    val f = Multimodal.decodeImage(Multimodal.syntheticPng(ref))
    val expected = (0 until 16).map { c =>
      val (cy, cx) = (c / 4, c % 4)
      val sum = (for { y <- cy * 4 until cy * 4 + 4; x <- cx * 4 until cx * 4 + 4 }
        yield (seed + 31 * x + 17 * y) % 256).sum
      sum / 4096.0f
    }
    assert(f.toSeq === expected)
    // extractFeatures dispatch: image rows decode for real, corrupt image
    // rows come back ok=false, video rows hit the labeled stub
    val media = Seq(
      ("42", Multimodal.syntheticPng("42"), "image/png"),
      ("bad", "garbage".getBytes, "image/png"),
      ("77", "payload".getBytes, "video/mp4")
    ).toDF("media_ref", "bytes", "mime")
    val out = Multimodal.extractFeatures(media).collect()
      .map(m => m.media_ref -> m).toMap
    assert(out("42").ok && out("42").feature.toSeq === expected)
    assert(!out("bad").ok && out("bad").feature === null)
    assert(out("77").ok && out("77").feature.length === 16)
  }

  test("audio decode: 4-sample WAV matches closed-form block sums") {
    // A hand-checkable WAV: 4 samples whose high bytes decode to
    // 0, 255, 100, 200. The 256-point resample reads frame k*4/256, so
    // points 0..63 see 0, 64..127 see 255, 128..191 see 100, 192..255 see
    // 200 — each run of 64 points spans 4 cells of 16.
    val samples = Seq(0, 255, 100, 200)
    val bb = java.nio.ByteBuffer.allocate(44 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + 8).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes).putInt(8)
    samples.foreach(v => bb.putShort(((v - 128) << 8).toShort))
    val f = Multimodal.decodeAudio(bb.array())
    val expected = samples.flatMap(v => Seq.fill(4)(16 * v / 4096.0f))
    assert(f.toSeq === expected)
    // corrupt / non-audio / null bytes: null feature, never an exception
    assert(Multimodal.decodeAudio("not a wav".getBytes) === null)
    assert(Multimodal.decodeAudio(null) === null)
  }

  test("synthetic WAV encode->decode->feature matches the closed form") {
    val ref = "42"
    val seed = Multimodal.refSeed(ref)
    val f = Multimodal.decodeAudio(Multimodal.syntheticWav(ref))
    val expected = (0 until 16).map { c =>
      (0 until 16).map { k =>
        val frame = (c * 16 + k) * Multimodal.WavSamples / 256
        (seed + 7 * frame) % 256
      }.sum / 4096.0f
    }
    assert(f.toSeq === expected)
    // extractFeatures dispatch: audio rows decode for real via the
    // javax.sound path, corrupt audio rows come back ok=false
    val media = Seq(
      ("42", Multimodal.syntheticWav("42"), "audio/wav"),
      ("bad", "garbage".getBytes, "audio/wav")
    ).toDF("media_ref", "bytes", "mime")
    val out = Multimodal.extractFeatures(media).collect()
      .map(m => m.media_ref -> m).toMap
    assert(out("42").ok && out("42").feature.toSeq === expected)
    assert(!out("bad").ok && out("bad").feature === null)
  }

  test("multimodal plumbing: stub decode, frames, resize") {
    val media = Multimodal.syntheticMedia(docs.filter($"doc_id" <= 4), "doc_id")
    val feats = Multimodal.extractFeatures(media, buckets = 2).collect()
    assert(feats.length === 4 && feats.forall(f => f.ok && f.feature.length === 16))
    // determinism of the stub
    val feats2 = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_ref -> f.feature.toSeq).toMap
    feats.foreach(f => assert(feats2(f.media_ref) === f.feature.toSeq))
    val frames = Multimodal.sampleFrames(media)
    assert(frames.count() >= 0)
    val rp = Multimodal.resizePlan(media, 256, 256).collect()
    rp.foreach { r =>
      assert(r.getAs[Int]("target_w") <= 256 && r.getAs[Int]("target_h") <= 256)
    }
  }
}
