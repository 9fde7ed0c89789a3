package graft.kb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Spark-native replacement for the reference's Lucene entity index
 * (/root/reference .../t2k/index/dbpedia/DBpediaIndexer.java:41-86): one
 * searchable name per entity label PLUS one per surface form of the
 * normalised label (DBpediaIndexer.java:67-70). The Lucene TF-IDF top-N
 * lookup (DBPediaInstanceIndex.java:388-497) becomes an equi-join on
 * tokens with IDF weights precomputed per token (SURVEY.md §2.2 B1/B2).
 *
 * Scale design: the index is a flat table bucketable by `token`; stop
 * tokens (document frequency above `DfCap`) are dropped — the same
 * effect Lucene's IDF scoring has on them, and the guard that keeps the
 * candidate join from exploding on Zipfian token distributions.
 */
object CandidateIndex {

  private val DfCap = 100000L

  /** kb_cells ([[KbIngest.values]]) -> candidate_tokens(token, idf, uri,
    * classId, nameId, nNameTok). The names are the normalised labels and
    * their surface forms: the label rows of `kbValues`, `viaSf` or not.
    * Token sets are distinct per name so Jaccard can be computed exactly
    * from shared-token counts in the lookup join. Names are carried as
    * 64-bit hashes — only name identity matters downstream, and hashed
    * keys keep the lookup join's shuffle rows narrow. */
  def build(kbValues: DataFrame): DataFrame = {
    val names = kbValues.filter(col("propId") === KbIngest.RdfsLabelPropId)
      .select(col("uri"), col("classId"), col("valueNorm").as("nameNorm"))
      .filter(col("nameNorm").isNotNull)
      .distinct()
      .withColumn("tokens", array_distinct(split(col("nameNorm"), " ")))
      .withColumn("nNameTok", size(col("tokens")))
      .withColumn("nameId", xxhash64(col("nameNorm")))
    val exploded = names.select(col("uri"), col("classId"), col("nameId"),
      col("nNameTok"), posexplode(col("tokens")).as(Seq("pos", "token")))
    // The name count is a one-row aggregate inside this query: no driver
    // count job and no barrier on `names`. Every name has exactly one
    // token at position 0 (a normalised name is non-empty), so counting
    // those reads the same plan, and the same shuffle, as the token rows.
    val nNames = exploded.filter(col("pos") === 0)
      .agg(greatest(count(lit(1)), lit(1L)).as("nNames"))
    val tokenDf = exploded.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") <= DfCap)
      .crossJoin(broadcast(nNames))
      .withColumn("idf", log((col("nNames").cast("double") + 1.0) / col("df")))
      .drop("nNames")
    exploded.join(tokenDf, "token")
      .select("token", "idf", "uri", "classId", "nameId", "nNameTok")
  }
}
