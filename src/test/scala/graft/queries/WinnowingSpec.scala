package graft.queries

import graft.SparkSpec

/** d14's winnowing contract (Schleimer et al. 2003): with k-gram width
  * 5 and window 4, (a) any two docs sharing a verbatim run of
  * ≥ w+k−1 = 8 tokens are GUARANTEED to share a selected fingerprint,
  * (b) unrelated docs share none, and (c) the selected density over
  * real text sits near the paper's 2/(w+1) expectation — the whole
  * point of winnowing over d09's every-gram index. */
class WinnowingSpec extends SparkSpec {

  private def run(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    val dir = freshDir("winnow").toFile
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite")
      .parquet(new java.io.File(dir, "documents.parquet").toString)
    Registry.queries("d14_winnowing")(spark, dir.toString)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  test("a shared 8-token run always yields a shared fingerprint; disjoint docs share none") {
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val got = run(Seq(
      (0L, s"one two three $shared nine ten"),
      (1L, s"$shared uniform victor whiskey xray"),
      (2L, "red orange yellow green blue indigo violet purple pink")))
    assert(got(0L)._2 >= 1, s"doc 0 shares the run but no fingerprint: $got")
    assert(got(1L)._2 >= 1, s"doc 1 shares the run but no fingerprint: $got")
    assert(got(2L)._2 == 0, s"doc 2 is disjoint but shares fingerprints: $got")
  }

  test("fingerprint density over real text is near 2/(w+1)") {
    val rows = Registry.queries("d14_winnowing")(spark, sf0001)
      .agg(org.apache.spark.sql.functions.sum("n_fp")).collect()(0)
    val nFp = rows.getLong(0)
    // total gram count from the same corpus, independently
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    val nGrams = graft.core.Tables(spark, sf0001, "documents")
      .select(size(shinglesFromHashes(tokenHashes(col("text")), 5)).as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    val density = nFp.toDouble / nGrams.toDouble
    // expectation 2/(w+1) = 0.4 for w=4; distinct-per-doc collapses a
    // little below it on repetitive text, so take a generous band
    assert(density > 0.2 && density < 0.6, s"density $density not ~0.4 ($nFp/$nGrams)")
  }
}
