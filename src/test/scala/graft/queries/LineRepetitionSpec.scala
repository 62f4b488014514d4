package graft.queries

import graft.SparkSpec

/** t26's duplicate-line math can't fire on the gate corpus (no doc
  * repeats a line), so exercise it on a synthetic boilerplate page:
  * exact fractions, empty-line filtering, and the all-unique case. */
class LineRepetitionSpec extends SparkSpec {

  test("duplicate-line fractions are exact on a boilerplate page") {
    import spark.implicits._
    val dir = freshDir("linerep").toFile
    // doc 0: nav bar line x3 (len 7), body lines unique (len 5 each),
    //        blank + spaces-only lines must be ignored
    // doc 1: all lines unique
    // doc 2: blank-only text still gets a (0, 0.0, 0.0) row
    val docs = Seq(
      (0L, "nav bar\nbody1\n\nnav bar\n   \nbody2\nnav bar", "en", "s", 40L),
      (1L, "alpha\nbeta", "en", "s", 10L),
      (2L, "\n   \n", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite")
      .parquet(new java.io.File(dir, "documents.parquet").toString)

    val got = Registry.queries("t26_line_repetition")(spark, dir.toString)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))

    // doc 0: 5 non-empty lines; the nav bar's 3 occurrences ALL count
    // as duplicated (Dolma/NeMo Gopher convention) -> 3/5 lines,
    // 3*7=21 of 21+5+5=31 chars
    assert(got(0) == ((0L, 5L, 3.0 / 5.0, 21.0 / 31.0)), got(0).toString)
    // doc 1: nothing repeats
    assert(got(1) == ((1L, 2L, 0.0, 0.0)), got(1).toString)
    // doc 2: no non-empty lines — present, all-zero
    assert(got(2) == ((2L, 0L, 0.0, 0.0)), got(2).toString)
  }
}
