package graft.queries

import graft.SparkSpec

/** t27's C4 heuristics (Raffel et al. 2020 §2.2) on pages built to sit
  * exactly on each rule's boundary: terminal punctuation, the 5-word
  * line minimum, the 3-surviving-line page minimum, and the
  * lorem-ipsum / curly-brace page vetoes. */
class C4FilterSpec extends SparkSpec {

  private val goodLine = "This sentence easily has five words."

  private def run(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    val dir = freshDir("c4").toFile
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite")
      .parquet(new java.io.File(dir, "documents.parquet").toString)
    Registry.queries("t27_c4_filters")(spark, dir.toString)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5)))).toMap
  }

  test("line and page rules fire exactly at their boundaries") {
    val got = run(Seq(
      // 3 qualifying lines → keep
      (0L, Seq(goodLine, goodLine, goodLine).mkString("\n")),
      // only 2 qualifying lines (nav line: no terminal punct) → drop
      (1L, Seq(goodLine, goodLine, "Home About Contact Privacy Terms").mkString("\n")),
      // 4 words with a period still fails the 5-word minimum → drop
      (2L, Seq(goodLine, goodLine, "Only four words here.").mkString("\n")),
      // lorem ipsum veto beats 3 good lines (case-insensitive)
      (3L, Seq(goodLine, goodLine, goodLine, "Lorem Ipsum dolor.").mkString("\n")),
      // curly-brace veto beats 3 good lines
      (4L, Seq(goodLine, goodLine, goodLine, "function f() { return 1; }").mkString("\n")),
      // question mark and quote are terminal; exclamation too → keep
      (5L, Seq("Is this a five word question?",
        "\"Quoted line of five words.\"", "Count all five words now!").mkString("\n"))))
    assert(got(0L) == ((3L, 3L, false, false, true)), got(0L).toString)
    assert(got(1L) == ((3L, 2L, false, false, false)), got(1L).toString)
    assert(got(2L) == ((3L, 2L, false, false, false)), got(2L).toString)
    assert(got(3L)._3 && !got(3L)._5, got(3L).toString)
    assert(got(4L)._4 && !got(4L)._5, got(4L).toString)
    assert(got(5L) == ((3L, 3L, false, false, true)), got(5L).toString)
  }

  test("blank-only page yields a zero row, not a missing one") {
    val got = run(Seq((0L, "\n  \n")))
    assert(got(0L) == ((0L, 0L, false, false, false)), got(0L).toString)
  }
}
