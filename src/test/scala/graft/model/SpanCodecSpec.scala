package graft.model

import graft.SparkSpec
import graft.fixtures.MicroCorpus
import org.apache.spark.sql.functions._

class SpanCodecSpec extends SparkSpec {

  test("decode: cell/header/column counts for the micro corpus") {
    val docs = MicroCorpus.docs(spark)
    assert(docs.count() === 12) // 2 header docs + 10 row docs
    val cells = SpanCodec.cells(docs)
    // 5*4 + 5*3 text cells + 2 media cells
    assert(cells.count() === 37)
    assert(cells.filter(col("kind") === "media").count() === 2)
    val cols = SpanCodec.columns(docs)
    // webtable1: 4 text cols + 1 media col; webtable2: 3 + 1 media col
    assert(cols.count() === 9)
  }

  test("column type inference and stats") {
    val cols = SpanCodec.columns(MicroCorpus.docs(spark)).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(3)).toMap
    assert(cols(("webtable1.csv", 0)) === "string")  // name
    assert(cols(("webtable1.csv", 1)) === "numeric") // isdn
    assert(cols(("webtable1.csv", 2)) === "string")  // author
    assert(cols(("webtable1.csv", 3)) === "date")    // year (year-only = date)
    assert(cols(("webtable1.csv", 4)) === "media")
    assert(cols(("webtable2.csv", 0)) === "numeric") // id
    assert(cols(("webtable2.csv", 1)) === "string")  // university
    assert(cols(("webtable2.csv", 2)) === "date")    // yearfounded
    // the date comparator's year range: max - min year, 1.0 without dates
    val yearRange = SpanCodec.columns(MicroCorpus.docs(spark))
      .select("tableName", "colIdx", "yearRange").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(yearRange(("webtable1.csv", 3)) === 44.0) // 1945 .. 1989
    assert(yearRange(("webtable1.csv", 0)) === 1.0)
  }

  test("round-trip preserves span-sequence equality (kind, text, media_ref, order)") {
    val docs = MicroCorpus.docs(spark)
    val exploded = SpanCodec.explodeSpans(docs)
    val cells = exploded.filter(!col("isHeader")).drop("isHeader")
    val headers = exploded.filter(col("isHeader"))
      .select(col("tableName"), col("colIdx"), col("text").as("header"))
    val back = SpanCodec.encode(cells, headers)

    val a = docs.select(col("doc_id"), expr(
      "transform(spans, s -> struct(s.kind, s.text, s.media_ref, s.offset))").as("sig"))
    val b = back.select(col("doc_id"), expr(
      "transform(spans, s -> struct(s.kind, s.text, s.media_ref, s.offset))").as("sig"))
    assert(a.join(b, Seq("doc_id", "sig"), "left_anti").count() === 0)
    assert(b.join(a, Seq("doc_id", "sig"), "left_anti").count() === 0)
    assert(a.count() === b.count())
  }
}
