package graft.queries

import graft.SparkSpec

/** t28's Gopher rule bundle (Rae et al. 2021 App. A1.1) on documents
  * built to sit exactly on each rule's boundary: the 50-word floor,
  * the mean-word-length band, the symbol / bullet / ellipsis ratios,
  * the alpha-word floor, and the 2-required-stopword minimum. The keep
  * decision is integer cross-products, so the boundaries are exact. */
class GopherRulesSpec extends SparkSpec {

  // 10 words, mean length (9*3+12)/10 = 3.9, two required stopwords
  // (the, of), all alphabetic.
  private val goodSentence =
    "the fox ran out of his den and saw breakfast"

  private def run(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    val dir = freshDir("gopher").toFile
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite")
      .parquet(new java.io.File(dir, "documents.parquet").toString)
    Registry.queries("t28_gopher_rules")(spark, dir.toString)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
  }

  test("word count, stopword, and alpha boundaries") {
    val fifty = Seq.fill(5)(goodSentence).mkString(" ")        // exactly 50 words
    val fortyNine = fifty.split(" ").drop(1).mkString(" ")     // 49 words
    // 50 words but 11 of them pure digits → alpha_frac 39/50 < 0.8
    val digitHeavy = (fifty.split(" ").take(39) ++ Seq.fill(11)("1234")).mkString(" ")
    // 50 alphabetic words but only one required stopword ("and")
    val oneStop = (Seq.fill(49)("word") ++ Seq("and")).mkString(" ")
    val got = run(Seq(
      (0L, fifty), (1L, fortyNine), (2L, digitHeavy), (3L, oneStop)))
    assert(got(0L).getAs[Boolean]("keep"), got(0L).toString)
    assert(got(0L).getAs[Long]("n_words") == 50L)
    assert(!got(1L).getAs[Boolean]("keep"), got(1L).toString)
    assert(!got(2L).getAs[Boolean]("keep"), got(2L).toString)
    assert(got(2L).getAs[Double]("alpha_frac") == 39.0 / 50.0)
    assert(!got(3L).getAs[Boolean]("keep"), got(3L).toString)
    assert(got(3L).getAs[Long]("n_req_stop") == 1L)
  }

  test("symbol ratio counts #, three-dot and unicode ellipsis") {
    val base = Seq.fill(5)(goodSentence).mkString(" ")
    // 3 hashes + one "..." + one "…" = 5 symbols over 54 words
    // (5/54 < 0.1 → kept); trailing words keep the single line from
    // ending in an ellipsis, which is t28's separate line rule.
    val okDoc = base + " ##...# … the end"
    // 6 hashes + "..." + "…" = 8 symbols over 54 words (> 0.1) → drop
    val overDoc = base + " ####...## … the end"
    val got = run(Seq((0L, okDoc), (1L, overDoc)))
    assert(got(0L).getAs[Boolean]("keep"), got(0L).toString)
    assert(!got(1L).getAs[Boolean]("keep"), got(1L).toString)
    assert(got(0L).getAs[Double]("symbol_ratio") == 5.0 / 54.0, got(0L).toString)
  }

  test("bullet and ellipsis line fractions") {
    val line = goodSentence + "."
    // 10 lines, 9 bullets → bullet_frac 0.9, NOT < 0.9 → drop
    val nineBullets = (Seq.fill(9)("- " + line) :+ line).mkString("\n")
    // 10 lines, 8 bullets → 0.8 < 0.9 → keep
    val eightBullets = (Seq.fill(8)("- " + line) ++ Seq(line, line)).mkString("\n")
    // 10 lines, 3 ellipsis-ended → 0.3, NOT < 0.3 → drop
    val threeEllipsis = (Seq.fill(3)(goodSentence + "...") ++ Seq.fill(7)(line))
      .mkString("\n")
    val got = run(Seq(
      (0L, nineBullets), (1L, eightBullets), (2L, threeEllipsis)))
    assert(!got(0L).getAs[Boolean]("keep"), got(0L).toString)
    assert(got(0L).getAs[Double]("bullet_frac") == 0.9)
    assert(got(1L).getAs[Boolean]("keep"), got(1L).toString)
    assert(!got(2L).getAs[Boolean]("keep"), got(2L).toString)
    assert(got(2L).getAs[Double]("ellipsis_frac") == 0.3)
  }

  test("mean word length band") {
    // 50 single-char words → mean 1 < 3 → drop
    val short = Seq.fill(50)("a the of".split(" ")).flatten.take(50).mkString(" ")
    // 50 eleven-char words (mean 11 > 10) but with stopwords → drop on mean
    val long = (Seq.fill(48)("supercalifr") ++ Seq("the", "of")).mkString(" ")
    val got = run(Seq((0L, short), (1L, long)))
    assert(!got(0L).getAs[Boolean]("keep"), got(0L).toString)
    assert(!got(1L).getAs[Boolean]("keep"), got(1L).toString)
    assert(got(1L).getAs[Double]("mean_word_len") == (48 * 11 + 3 + 2) / 50.0)
  }
}
