package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  test("streaming doc annotation (memory source -> memory sink)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = Streams.annotateDocs(docs).writeStream
      .format("memory").queryName("annot").outputMode("append").start()
    in.addData((1L, "the quick brown fox"), (2L, "der hund und die katze"))
    q.processAllAvailable()
    val out = spark.table("annot").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    q.stop()
    assert(out(1L) === "en" && out(2L) === "de")
  }

  test("watermarked windowed counts over an event stream") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = Streams.windowedEventCounts(events, "1 minute", "5 minutes")
      .writeStream.format("memory").queryName("winagg")
      .outputMode("append").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    in.addData((ts(0), "click", 1.0), (ts(1), "click", 2.0), (ts(6), "view", 5.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first window
    in.addData((ts(30), "click", 1.0))
    q.processAllAvailable()
    val rows = spark.table("winagg").collect()
    q.stop()
    val clicks = rows.find(r => r.getAs[String]("event_type") == "click" &&
      r.getAs[Long]("n") == 2L)
    assert(clicks.isDefined, rows.mkString(";"))
  }

  test("incremental entity linking equals the batch kernel per micro-batch") {
    import graft.fixtures.MicroCorpus
    import graft.kb.{CandidateIndex, KbIngest}
    import graft.pipeline.Keys
    implicit val sc = spark.sqlContext
    val kb = KbIngest.fromLodTables(spark, MicroCorpus.lodTables,
      MicroCorpus.classHierarchy)
    val index = CandidateIndex.build(
      KbIngest.values(kb.cells, MicroCorpus.surfaceFormsDf(spark)))
      .persist()
    val batchDocs = MicroCorpus.docs(spark)
    val keyCols = Keys.detect(graft.model.SpanCodec.columns(batchDocs))
      .persist()
    // expected: the batch kernel over ALL docs (tables are independent,
    // so batch-at-once == union of per-table micro-batches)
    val expected = graft.pipeline.Candidates.generate(
        graft.model.SpanCodec.cells(batchDocs), keyCols, index, 1, 0.2)
      .select("tableName", "rowNum", "uri")
      .as[(String, Int, String)].collect().toSet
    assert(expected.nonEmpty)

    val in = MemoryStream[graft.model.Doc]
    val got = collection.mutable.Set[(String, Int, String)]()
    val batches = collection.mutable.Set[Long]()
    val q = Streams.linkDocs(in.toDF(), index, keyCols, 1, 0.2) { (df, id) =>
      got ++= df.select("tableName", "rowNum", "uri")
        .as[(String, Int, String)].collect()
      batches += id
    }
    val all = batchDocs.as[graft.model.Doc].collect()
    val (t1, t2) = all.partition(_.doc_id.startsWith("webtable1"))
    in.addData(t1.toSeq)
    q.processAllAvailable()
    in.addData(t2.toSeq)
    q.processAllAvailable()
    q.stop()
    assert(batches.size >= 2) // genuinely incremental: >= 2 micro-batches
    assert(got.toSet === expected)
  }

  test("incremental near-dup vs a static LSH index, across micro-batches") {
    import graft.ops.Dedup
    implicit val sc = spark.sqlContext
    // static corpus: 3 docs; index built once with the shared parameters
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about database systems design"),
      (3L, "streaming joins need bounded state or a static side")
    ).toDF("doc_id", "text")
    val index = Dedup.minhashBuckets(corpus, "doc_id", "text").persist()
    // stream: one near-dup of doc 1, one of doc 3, two novel docs —
    // delivered across TWO genuine micro-batches
    val nearOf1 = "the quick brown fox jumps over the lazy dog today"
    val nearOf3 = "streaming joins need bounded state or a static sides"
    val in = MemoryStream[(Long, String)]
    val got = collection.mutable.Set[(Long, Long)]()
    val batches = collection.mutable.Set[Long]()
    val q = Streams.dedupDocs(in.toDF().toDF("doc_id", "text"), index, 0.5) {
      (df, id) =>
        got ++= df.select("doc_id", "dup_of").as[(Long, Long)].collect()
        batches += id
    }
    in.addData((100L, nearOf1), (101L, "totally novel content first"))
    q.processAllAvailable()
    // batch 2 includes a REPLAY of indexed doc 2 (same id, same text):
    // it must NOT report itself as its own duplicate. It also carries a
    // WITHIN-BATCH dup pair (two copies of a novel page, neither
    // indexed): the later id must be flagged against the earlier one
    in.addData((102L, nearOf3), (103L, "another novel document entirely"),
      (2L, "completely unrelated text about database systems design"),
      (104L, "a brand new page fetched twice in one burst"),
      (105L, "a brand new page fetched twice in one burst"))
    q.processAllAvailable()
    q.stop()
    assert(batches.size >= 2) // genuinely incremental
    assert(got.toSet === Set((100L, 1L), (102L, 3L), (105L, 104L)))
  }

  test("cross-batch near-dup via the cumulative index (novel doc in batch 1, copy in batch 2)") {
    import graft.ops.Dedup
    implicit val sc = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about database systems design")
    ).toDF("doc_id", "text")
    val index = Dedup.minhashBuckets(corpus, "doc_id", "text").persist()
    val novel = "a never before seen page about spark streaming state"
    val nearOfNovel = "a never before seen page about spark streaming states"

    // (a) static-only mode: the cross-batch pair is MISSED — pinned so the
    // semantic gap stays documented behavior, not an accident
    locally {
      val in = MemoryStream[(Long, String)]
      val got = collection.mutable.Set[(Long, Long)]()
      val q = Streams.dedupDocs(in.toDF().toDF("doc_id", "text"), index, 0.5) {
        (df, _) => got ++= df.select("doc_id", "dup_of").as[(Long, Long)].collect()
      }
      in.addData((200L, novel)); q.processAllAvailable()
      in.addData((201L, nearOfNovel)); q.processAllAvailable()
      q.stop()
      assert(got.isEmpty, "static-only mode is expected to miss cross-batch dups")
    }

    // (b) cumulative mode: batch 1's banded rows are appended, batch 2
    // probes seed ∪ appended and reports the pair
    val dir = java.nio.file.Files.createTempDirectory("graft-cumidx").toString
    val in = MemoryStream[(Long, String)]
    val got = collection.mutable.Set[(Long, Long)]()
    val batches = collection.mutable.Set[Long]()
    val q = Streams.dedupDocs(in.toDF().toDF("doc_id", "text"), index, 0.5,
        cumulativeIndexDir = Some(dir)) { (df, id) =>
      got ++= df.select("doc_id", "dup_of").as[(Long, Long)].collect()
      batches += id
    }
    in.addData((200L, novel),
      (210L, "the quick brown fox jumps over the lazy dog today"))
    q.processAllAvailable()
    // batch 2: near-copy of batch 1's novel doc; a REPLAY of 200 (the
    // appended index now holds it — must not self-match, and its
    // within-batch burst twin must not double-emit); a fresh burst pair
    in.addData((201L, nearOfNovel),
      (200L, novel),
      (220L, "fresh burst page fetched twice within one trigger"),
      (221L, "fresh burst page fetched twice within one trigger"))
    q.processAllAvailable()
    q.stop()
    assert(batches.size >= 2)
    // 210 -> 1 (seed leg, batch 1); 201 -> 200 (cross-batch leg);
    // 221 -> 220 (within-batch leg); replayed 200 reports nothing new
    assert(got.toSet === Set((210L, 1L), (201L, 200L), (221L, 220L)))
  }

  test("replayed batch with cumulative index emits each intra-batch pair once, canonically oriented") {
    import graft.ops.Dedup
    implicit val sc = spark.sqlContext
    val index = Dedup.minhashBuckets(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text"), "doc_id", "text").persist()
    val burst = "a burst page fetched twice inside the failed attempt"
    val batch = Seq((220L, burst), (221L, burst))
    // simulate a foreachBatch RETRY: the failed attempt already appended
    // this batch's banded rows before dying, so on replay BOTH burst docs
    // are visible in the cumulative index and the probe finds the pair in
    // both orientations — the canonicalisation must emit exactly one row,
    // oriented like the within-batch leg (doc_id > dup_of)
    def replayRun(withinBatch: Boolean): Seq[(Long, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
      Dedup.minhashBuckets(batch.toDF("doc_id", "text"), "doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/batch_id=0")
      val in = MemoryStream[(Long, String)]
      val got = collection.mutable.ArrayBuffer[(Long, Long)]()
      val q = Streams.dedupDocs(in.toDF().toDF("doc_id", "text"), index, 0.5,
          withinBatch = withinBatch, cumulativeIndexDir = Some(dir)) { (df, _) =>
        got ++= df.select("doc_id", "dup_of").as[(Long, Long)].collect()
      }
      in.addData(batch: _*); q.processAllAvailable(); q.stop()
      got.toSeq
    }
    assert(replayRun(withinBatch = true) === Seq((221L, 220L)))
    // withinBatch=false: the first attempt reported no intra-batch pairs,
    // so its replay must not either (not even via the appended rows)
    assert(replayRun(withinBatch = false) === Seq.empty)
  }

  test("bucketCap bounds a degenerate bucket ACROSS batches in cumulative mode") {
    import graft.ops.Dedup
    implicit val sc = spark.sqlContext
    // boilerplate text delivered again and again across batches: its
    // (band, bucket) rows accumulate in the cumulative index, and without
    // an index-side cap every later copy would join against ALL of them
    // (quadratic cross-batch blow-up). With bucketCap set, the unioned
    // index is capped at probe time: once the bucket exceeds the cap, new
    // copies stop matching it — while genuine near-dups in healthy
    // buckets keep reporting.
    val boiler = "boilerplate navigation header repeated on every single page"
    val novel = "a unique article about distributed query planning internals"
    val nearOfNovel = novel + " today"
    val index = Dedup.minhashBuckets(Seq(
      (1L, "completely unrelated seed text about database systems design")
    ).toDF("doc_id", "text"), "doc_id", "text").persist()
    val dir = java.nio.file.Files.createTempDirectory("graft-capidx").toString
    val in = MemoryStream[(Long, String)]
    val got = collection.mutable.Set[(Long, Long)]()
    val batches = collection.mutable.Set[Long]()
    val q = Streams.dedupDocs(in.toDF().toDF("doc_id", "text"), index, 0.5,
        bucketCap = 2, cumulativeIndexDir = Some(dir)) { (df, id) =>
      got ++= df.select("doc_id", "dup_of").as[(Long, Long)].collect()
      batches += id
    }
    in.addData((400L, boiler), (401L, boiler), (500L, novel))
    q.processAllAvailable()
    in.addData((402L, boiler), (403L, boiler))
    q.processAllAvailable()
    // by now the boiler bucket holds 4 appended rows > cap: the batch-3
    // copy must NOT join against them, but the healthy cross-batch pair
    // (501, 500) must still report
    in.addData((404L, boiler), (501L, nearOfNovel))
    q.processAllAvailable()
    q.stop()
    assert(batches.size >= 3)
    val batch3From404 = got.filter(_._1 == 404L)
    assert(batch3From404.isEmpty,
      s"degenerate bucket must be capped cross-batch, got $batch3From404")
    assert(got.contains((501L, 500L)), s"healthy cross-batch pair lost: $got")
    // batch-1/2 behavior below the cap is unchanged: within-batch pairs
    // and cross-batch matches while the bucket still fit
    assert(got.contains((401L, 400L)) && got.contains((403L, 402L)))
  }

  test("compacting the cumulative index preserves dup output and bounds the dir count") {
    import graft.ops.Dedup
    implicit val sc = spark.sqlContext
    val index = Dedup.minhashBuckets(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text"), "doc_id", "text").persist()
    val novel = "a singular write up about adaptive query execution internals"
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    def runBatches(batches: Seq[Seq[(Long, String)]]): Set[(Long, Long)] = {
      val in = MemoryStream[(Long, String)]
      val got = collection.mutable.Set[(Long, Long)]()
      val q = Streams.dedupDocs(in.toDF().toDF("doc_id", "text"), index, 0.5,
          cumulativeIndexDir = Some(dir)) { (df, _) =>
        got ++= df.select("doc_id", "dup_of").as[(Long, Long)].collect()
      }
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      q.stop()
      got.toSet
    }
    // three appended batches; also plant a data-less dir (crashed append)
    val first = runBatches(Seq(
      Seq((600L, novel)),
      Seq((601L, "other page one entirely distinct")),
      Seq((602L, "other page two also quite distinct"))))
    assert(first.isEmpty)
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(dir, "batch_id=99"))
    def dirCount = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(dirCount === 4)
    val folded = Streams.compactDedupIndex(spark, dir)
    assert(folded === 4)
    assert(dirCount === 1, "all batch dirs folded into one")
    // idempotent: nothing left to fold
    assert(Streams.compactDedupIndex(spark, dir) === 0)
    // the cross-batch leg still works through the compacted rows: a
    // near-copy of the batch-1 novel doc is reported exactly as it would
    // have been against the uncompacted dirs
    val after = runBatches(Seq(Seq((610L, novel + " today"))))
    assert(after === Set((610L, 600L)), s"got $after")
  }

  test("a data-less batch_id append does not wedge the cumulative-index read") {
    import graft.ops.Dedup
    implicit val sc = spark.sqlContext
    val index = Dedup.minhashBuckets(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text"), "doc_id", "text").persist()
    // a crash mid-first-append (or an all-empty-docs batch) leaves a
    // batch_id dir with no data files — the schema-explicit read must
    // treat it as empty, not kill every subsequent batch on inference
    val dir = java.nio.file.Files.createTempDirectory("graft-emptyidx")
    java.nio.file.Files.createDirectory(dir.resolve("batch_id=0"))
    java.nio.file.Files.createFile(dir.resolve("batch_id=0").resolve("_SUCCESS"))
    val in = MemoryStream[(Long, String)]
    val got = collection.mutable.Set[(Long, Long)]()
    val q = Streams.dedupDocs(in.toDF().toDF("doc_id", "text"), index, 0.5,
        cumulativeIndexDir = Some(dir.toString)) { (df, _) =>
      got ++= df.select("doc_id", "dup_of").as[(Long, Long)].collect()
    }
    in.addData((300L, "the quick brown fox jumps over the lazy dog today"))
    q.processAllAvailable()
    q.stop()
    assert(got.toSet === Set((300L, 1L)))
  }

  test("incremental ANN vs a static IVF inverted file, across micro-batches") {
    import graft.ops.SimSearch
    implicit val sc = spark.sqlContext
    // clustered corpus (IvfSpec shape); index + centroids built ONCE
    val rnd = new scala.util.Random(11)
    val base = Array.fill(8)(Array.fill(16)(rnd.nextFloat() * 4f))
    val corpus = (0 until 64).map { i =>
      val c = base(i % 8)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }.toDF("vec_id", "embedding").cache()
    val cents = SimSearch.trainCentroids(corpus, "vec_id", "embedding", 8)
    val invFile = SimSearch.ivfInvertedFile(corpus, "vec_id", "embedding", cents)
      .persist()
    // streamed queries: fresh ids so results compare cleanly; expected is
    // the batch kernel over ALL queries (each query is independent)
    val queries = (0 until 6).map { i =>
      (1000L + i, base(i).map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }
    val expected = SimSearch.ivfTopKFromIndex(
        queries.toDF("vec_id", "embedding"), invFile,
        "vec_id", "embedding", 2, cents, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(expected.nonEmpty)
    val in = MemoryStream[(Long, Array[Float])]
    val got = collection.mutable.Set[(Long, Long, Int)]()
    val batches = collection.mutable.Set[Long]()
    val q = Streams.annQueries(in.toDF().toDF("vec_id", "embedding"),
        invFile, 2, cents, nProbe = 2) { (df, id) =>
      got ++= df.select("qid", "cid", "rk").as[(Long, Long, Int)].collect()
      batches += id
    }
    in.addData(queries.take(3))
    q.processAllAvailable()
    in.addData(queries.drop(3))
    q.processAllAvailable()
    q.stop()
    assert(batches.size >= 2) // genuinely incremental
    assert(got.toSet === expected)
  }

  test("stateful sessionization emits closed sessions") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = in.toDF().toDF("user_id", "ts", "value")
    val q = Streams.sessionize(events, gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    in.addData((7L, ts(10, 0), 1.0), (7L, ts(10, 5), 2.0))
    q.processAllAvailable()
    in.addData((7L, ts(12, 0), 3.0)) // gap > 10 min -> closes session 1
    q.processAllAvailable()
    val rows = spark.table("sessions").collect()
    q.stop()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("n_events") === 2L)
    assert(rows.head.getAs[Double]("sum_value") === 3.0)
  }
}
