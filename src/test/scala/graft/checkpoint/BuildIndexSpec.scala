package graft.checkpoint

import graft.SparkSpec
import graft.fixtures.MicroCorpus
import graft.kb.KbIngest
import graft.pipeline.T2KPipeline
import java.nio.file.{Files, Paths}

/**
 * `--build-index` workflow (T2KPipeline.index — the reference's offline
 * DBpediaIndexer.java:133-159): a prebuilt index checkpoint dir must be
 * CONSUMED by a later pipeline run, not rebuilt — the manifest appends a
 * line only when a stage actually runs, so each prebuilt stage must
 * appear exactly once after the full run.
 */
class BuildIndexSpec extends SparkSpec {

  test("prebuilt candidate index is resumed, not rebuilt") {
    val dir = Files.createTempDirectory("graft_build_index").toString
    val kb = KbIngest.fromLodTables(spark, MicroCorpus.lodTables,
      MicroCorpus.classHierarchy)
    val sf = MicroCorpus.surfaceFormsDf(spark)

    T2KPipeline.index(kb, sf, new ParquetCheckpointer(spark, dir))
    val built = Files.readString(Paths.get(dir, "manifest.jsonl"))
    Seq("kb_cells", "candidate_tokens", "candidate_variants").foreach { s =>
      assert(built.contains("\"stage\":\"" + s + "\""), s"missing stage $s")
    }

    val res = T2KPipeline.run(MicroCorpus.docs(spark), kb, sf,
      MicroCorpus.classHierarchy.toMap,
      ckpt = new ParquetCheckpointer(spark, dir))
    assert(res.triples.count() === 10)

    val after = Files.readString(Paths.get(dir, "manifest.jsonl"))
    Seq("kb_cells", "candidate_tokens", "candidate_variants").foreach { s =>
      val n = after.linesIterator.count(_.contains("\"stage\":\"" + s + "\""))
      assert(n === 1, s"stage $s ran $n times — prebuilt index not consumed")
    }
    // the pipeline-only stages DID run against the prebuilt index
    assert(after.contains("\"stage\":\"candidates_selected\""))
  }
}
