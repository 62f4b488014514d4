package graft.sql

import java.nio.file.{Files, Path}

import graft.SparkSpec

/** Port of the reference's end-to-end corpus (main_test.go:16-179):
  * good queries must run, bad ones must raise — the corpus encodes the
  * dialect's validity rules. Fixtures synthesize the reverse-engineered
  * parkingTest/cities/country schemas from FIXTURES.md §1 (the
  * reference's own fixtures are private).
  */
class CorpusSpec extends SparkSpec {

  lazy val dir: Path = {
    val d = freshDir("corpus")
    // parking.csv — cols per FIXTURES.md evidence table
    val hdr = (1 to 40).map(i => if (i == 7) "Issue Date" else s"h$i").mkString(",")
    val states = Seq("NY", "NJ", "VA", "FL", "MA")
    val plates = Seq("COM", "OMT", "PAS")
    val makes = Seq("TOYOT", "FORD", "BMW", "HONDA")
    val rows = (0 until 200).map { i =>
      val c32 = if (i % 5 == 0) "" else s"v$i"      // nullable strings
      val c33 = if (i % 7 == 0) "" else s"w$i"
      val c37 = if (i % 4 == 0) "" else (i % 50).toString // nullable int
      (1 to 40).map {
        case 1 => (i * 1.5 + 0.25).toString            // c1 float
        case 2 => (i * 0.75 + 1.5).toString            // c2 float
        case 3 => (8479417400L + i).toString           // c3 big int
        case 4 => s"GZH${7000 + i}"                    // c4 plate id
        case 5 => states(i % states.size)              // c5 state
        case 6 => plates(i % plates.size)              // c6 plate type
        case 7 => f"${i % 12 + 1}%d/${i % 28 + 1}%d/2016" // c7 date M/d/yyyy
        case 8 => (i % 100).toString                   // c8 int
        case 9 => (i % 30).toString
        case 10 => makes(i % makes.size)               // c10 make
        case 12 => (i % 9).toString
        case 13 => (i % 13).toString
        case 14 => (i % 14).toString
        case 16 => s"a$i"                              // c16 string
        case 17 => s"b$i"                              // c17 string
        case 32 => c32
        case 33 => c33
        case 37 => c37
        case 38 => i.toString                          // c38 int
        case 40 => (i % 50).toString                   // c40 int
        case n => (n * 10 + i % 3).toString            // filler ints
      }.mkString(",")
    }
    Files.writeString(d.resolve("parking.csv"), (hdr +: rows).mkString("\n"))
    // headerless join fixtures: cities (c1=city, c2=pop, c3=code),
    // country (c1=code, c2=name); dup keys + unmatched rows
    Files.writeString(d.resolve("cities.csv"),
      """newyork,8000000,US
        |boston,600000,US
        |paris,2100000,FR
        |lyon,500000,FR
        |atlantis,1,XX
        |""".stripMargin)
    Files.writeString(d.resolve("country.csv"),
      """US,UnitedStates
        |FR,France
        |DE,Germany
        |""".stripMargin)
    d
  }

  lazy val g: GraftSession = new GraftSession(spark, None)
  private def parking = s"$dir/parking.csv"
  private def cities = s"$dir/cities.csv"
  private def country = s"$dir/country.csv"

  private def run(q: String): Long = g.sql(q).count()

  // ── good corpus (shape of main_test.go's passing set) ───────────────
  lazy val good: Seq[(String, String)] = Seq(
    // select/expressions (:46-68)
    s"select c1 + c2 + 10.2 from $parking" -> "float addition chain",
    s"select c8 + c12 + 10 from $parking" -> "int addition chain",
    s"select c2 / c1 / 10.2 from $parking" -> "float division chain",
    s"select c16 + c17 from $parking" -> "string concat via +",
    s"select c1, c2, spam = c1 * 2 from $parking" -> "alias = expr",
    s"select top 5 c1 c2 c3 from $parking" -> "top with comma-less list",
    s"select * from $parking" -> "select star",
    s"select from $parking" -> "empty select = select all",
    // where predicates (:85-125)
    s"select c4 from $parking where c4 = GZH7067" -> "bare word literal compare",
    s"select c5 from $parking where c5 like '%n%'" -> "like",
    s"select c5 from $parking where c5 not like 'n%'" -> "not like",
    s"select c13, c14 from $parking where c13 != c14" -> "column != column",
    s"select c38 from $parking where c38 % 2 = 0" -> "modulus predicate",
    s"select c37, c40 from $parking where c37 = c40" -> "nullable int compare",
    s"select c37 from $parking where c37 = null" -> "null equality",
    s"select c32 from $parking where c32 = null and c33 = null" -> "double null equality",
    s"select c1 from $parking where not (c1 > 10 and c2 < 5) or not c8 = 3" -> "not with parens",
    s"select c1 from $parking where c1 > 10 xor c2 > 10" -> "xor",
    s"select c5 from $parking where c5 in (NJ, VA, FL, 78)" -> "in list mixed words",
    s"select c3 from $parking where c3 in (8479417420, 8479417401)" -> "in list big ints",
    s"select c7 from $parking where c7 between '8/1/2016' and '10/30/2016'" -> "date between",
    // case expressions (:50-82, :102-105)
    s"select case when c5 = 'NY' then empire when c5 = 'MA' then bay else other end from $parking" -> "searched case words",
    s"select case c6 when 'COM' then commercial when 'OMT' then taxi else c6 end from $parking" -> "simple case",
    s"select case c10 when TOYOT then toyota when FORD then ford end from $parking" -> "simple case no else",
    // date functions/arithmetic (:126-127, :154)
    s"select month('Issue Date'), year(c7), week(c7) from $parking" -> "quoted column name date parts",
    s"select c7 + '1 week' from $parking" -> "date plus duration",
    s"select dayname(c7), monthname(c7) from $parking" -> "date names",
    // aggregates (:137-156)
    s"select max(c3), min(c3), avg(c3), sum(c3), count(c3) from $parking" -> "aggregate suite",
    s"select stdev(c1), stdevp(c1) from $parking" -> "stdev",
    s"select count(c1) + count(c2) from $parking" -> "agg + agg",
    s"select count(c1) + 1 - 2 from $parking" -> "agg + literals",
    s"select c5, count(c5) from $parking group by c5" -> "group by",
    s"select c5, c6, count(c4) from $parking group by c5 c6" -> "group by two keys",
    s"select c5, count(c5) from $parking group by c5 having count(c5) > 10" -> "having",
    s"select count(distinct c5) from $parking" -> "count distinct ungrouped",
    s"select distinct c5 from $parking" -> "distinct select",
    s"select distinct hidden c5, c4 from $parking" -> "distinct hidden",
    s"select c5, count(c5) from $parking group by c5 order by count(c5)" -> "ordered group",
    s"select top 3 c1 from $parking order by c1" -> "ordered top",
    // joins (:160-164)
    s"nh select c.c1, r.c2 from $cities c join $country r on c.c3 = r.c1" -> "nh join",
    s"nh select c.c1 from $cities c left join $country r on c.c3 = r.c1 where r.c2 = null" -> "left join null probe",
    s"nh select c.c1, r.c2 from $cities c bjoin $country r on c.c3 = r.c1" -> "bjoin hint",
    s"nh select c.c1 from $cities c join $country r on c.c3 = r.c1 order by c.c2" -> "ordered join",
    // expression join keys (main_test.go:162: c.c3+dog = r.c1+dog)
    s"nh select c.c1 from $cities c join $country r on c.c3 + dog = r.c1 + dog" -> "expression join keys")

  good.foreach { case (q, label) =>
    test(s"good: $label") { assert(run(q) >= 0) }
  }

  // ── two-valued predicate semantics (reference interpreter booleans) ─
  test("not like keeps rows with null operands (two-valued NOT)") {
    // c32 is "" (null) every 5th row of 200 → 40 nulls; non-null cells
    // all start with 'v', so only the null rows survive the negation
    assert(run(s"select c32 from $parking where c32 not like 'v%'") == 40)
  }

  test("not in negates as two-valued") {
    val all = run(s"select c5 from $parking")
    val in = run(s"select c5 from $parking where c5 in (NY, NJ)")
    val notIn = run(s"select c5 from $parking where c5 not in (NY, NJ)")
    assert(in + notIn == all && notIn > 0)
  }

  test("not between works post-expression") {
    assert(run(s"select c8 from $parking where c8 not between 0 and 50") == 100)
  }

  test("x not = y parses and negates") {
    val eq = run(s"select c5 from $parking where c5 = NY")
    val ne = run(s"select c5 from $parking where c5 not = NY")
    assert(eq + ne == 200)
  }

  test("ordering against null literal matches reference value dispatch") {
    // typed Less vs null → false; typed Greater vs null → true;
    // null cell vs null literal → false for every ordering op
    assert(run(s"select c1 from $parking where c1 < null") == 0)
    assert(run(s"select c32 from $parking where c32 < null") == 0)
    assert(run(s"select c1 from $parking where c1 > null") == 200)
    assert(run(s"select c32 from $parking where c32 >= null") == 160) // non-null cells only
  }

  test("cN out of bounds is an error, not a literal") {
    assertThrows[Exception](g.sql(s"select c45 from $parking").collect())
  }

  // ── bad corpus (validity rules, :70-73, :143-153, :160-161) ─────────
  lazy val bad: Seq[(String, String)] = Seq(
    s"select c16 * c17 from $parking" -> "string multiply",
    s"select c7 * 2 from $parking" -> "date multiply",
    s"select c7 + c7 from $parking" -> "date + date",
    s"select c1 % 2 from $parking" -> "float modulus",
    s"select max(c1) + c2 from $parking" -> "agg + bare column",
    s"select sum(count(c1)) from $parking" -> "nested aggregate",
    s"select c1 from $parking where sum(c1) > 5" -> "agg in where",
    s"select c5, count(distinct c4) from $parking group by c5" -> "distinct agg with group by",
    s"select c5 from $parking having c5 = NY" -> "bare column in having",
    s"nh select c.c1 from $cities c join $country r on c.c3 = r.c1 and c.c2 = r.c2" -> "two join conditions",
    s"nh select c.c1 from $cities c join $country r on c.c3 = c.c2" -> "join sides same file")

  bad.foreach { case (q, label) =>
    test(s"bad: $label") {
      assertThrows[Exception] { g.sql(q).collect() }
    }
  }
}
