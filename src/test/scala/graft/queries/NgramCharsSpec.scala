package graft.queries

import graft.SparkSpec

/** t29's char-weighted n-gram repetition on hand-computable fixtures:
  * the top-3-gram fraction, the duplicated-5-gram fraction (every
  * occurrence counted), and the short-doc / empty-doc zero rows. */
class NgramCharsSpec extends SparkSpec {

  private def run(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    val dir = freshDir("ngc").toFile
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite")
      .parquet(new java.io.File(dir, "documents.parquet").toString)
    Registry.queries("t29_dup_ngram_chars")(spark, dir.toString)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
  }

  test("top-3-gram and dup-5-gram char fractions on a repeated phrase") {
    // "ab cd ef" ×3 → 9 tokens, 18 token chars. 3-grams: the 7 windows
    // of the repeated phrase; "ab cd ef" occurs 3× (6 gram chars) and
    // every other window occurs ≤ 2× with the same 6 gram chars, so
    // top3 = 3·6/18 = 1.0. 5-grams: all 5 windows are distinct?? no —
    // with period 3 every 5-gram at offsets {0,3} repeats: windows
    // 1&4, 2&5 pair up (10 gram chars each, 4 windows duplicated),
    // window 3 ("ef ab cd ef ab") is unique. dup5 = 4·10/18.
    val got = run(Seq((0L, "ab cd ef ab cd ef ab cd ef")))
    val (tot, top3, dup5) = got(0L)
    assert(tot == 18L)
    assert(top3 == 3 * 6 / 18.0, top3.toString)
    assert(dup5 == 4 * 10 / 18.0, dup5.toString)
  }

  test("count ties resolve to the larger char weight") {
    // Two 3-grams each occur twice: "aa bb cc" (6 chars) and
    // "dddd ee ff" (8 chars). Top pick must be the 8-char one.
    val t = "aa bb cc x dddd ee ff y aa bb cc z dddd ee ff"
    val got = run(Seq((0L, t)))
    val tot = t.replace(" ", "").length.toLong
    assert(got(0L)._1 == tot)
    assert(got(0L)._2 == 2 * 8.0 / tot, got(0L).toString)
  }

  test("docs below n tokens report zeros, not missing rows") {
    val got = run(Seq((0L, "one two"), (1L, ""), (2L, "a b c d")))
    assert(got(0L) == ((6L, 0.0, 0.0)))
    assert(got(1L) == ((0L, 0.0, 0.0)))
    // 4 tokens: 2 trigrams ("a b c", "b c d") each once → top3 = 3/4;
    // no 5-grams.
    assert(got(2L) == ((4L, 3.0 / 4.0, 0.0)), got(2L).toString)
  }
}
