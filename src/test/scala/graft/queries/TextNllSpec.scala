package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** t13's OOV floor can't fire on the gate corpus (its rarest word
  * count is ~26 >= the min-count of 5), so exercise it on a synthetic
  * corpus where one word is genuinely rare. */
class TextNllSpec extends SparkSpec {

  test("rare words fall through to the ln(1/N) OOV floor") {
    import spark.implicits._
    val dir = freshDir("nll").toFile
    // "common" appears 10 times, "rare" once -> N = 11, vocab = {common}
    val docs = Seq(
      (0L, "common common common common common", "en", "s", 30L),
      (1L, "common common common common common rare", "en", "s", 36L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite")
      .parquet(new java.io.File(dir, "documents.parquet").toString)

    val got = Registry.queries("t13_unigram_nll")(spark, dir.toString)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val n = 11.0
    val lpCommon = math.log(10.0 / n)
    val lpOov = math.log(1.0 / n)
    def dec6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val want0 = -(dec6(lpCommon) * 5).toDouble / 5.0
    val want1 = -((dec6(lpCommon) * 5) + dec6(lpOov)).toDouble / 6.0
    assert(got(0) == ((0L, 5L, want0)))
    assert(got(1) == ((1L, 6L, want1)))
  }
}
