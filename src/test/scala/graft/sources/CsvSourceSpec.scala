package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.sql.Durations

class CsvSourceSpec extends SparkSpec {

  test("narrowest-type lattice (reference getNarrowestType)") {
    import CsvSource._
    assert(narrowest("") == LNull)
    assert(narrowest("null") == LNull)
    assert(narrowest("NA") == LNull)
    assert(narrowest("42") == LInt)
    assert(narrowest("-3") == LInt)
    assert(narrowest("3.14") == LFloat)
    assert(narrowest("1e5") == LFloat)
    assert(narrowest("007") == LStr)      // leading-zero ID protection
    assert(narrowest("2020-01-02") == LDate)
    assert(narrowest("2020-01-02 10:11:12") == LDate)
    assert(narrowest("02.01.2020") == LDate)               // dotted European
    assert(narrowest("2020-01") == LDate)                  // yyyy-MM month form
    assert(narrowest("Thu Jan  2 10:11:12 2020") == LDate) // unix date
    assert(narrowest("3.14") == LFloat)                    // dots stay numeric first
    assert(narrowest("5 minutes") == LDur)
    assert(narrowest("72h3m") == LDur)
    assert(narrowest("hello") == LStr)
  }

  test("duration parsing: units incl. y=52w, go-style compound") {
    assert(Durations.parse("90s").get.getSeconds == 90)
    assert(Durations.parse("5 minutes").get.getSeconds == 300)
    assert(Durations.parse("2h").get.getSeconds == 7200)
    assert(Durations.parse("1 week").get.getSeconds == 7 * 86400)
    assert(Durations.parse("1y").get.getSeconds == 52L * 7 * 86400)
    assert(Durations.parse("1h30m").get.getSeconds == 5400)
    // Go semantics: sign applies to the whole compound; ms parses
    assert(Durations.parse("-1h30m").get.getSeconds == -5400)
    assert(Durations.parse("100ms").get.toMillis == 100)
    assert(Durations.parse("nope").isEmpty)
    // Go Duration.String() fidelity: all units below the leading one
    assert(Durations.format(java.time.Duration.ofSeconds(5400)) == "1h30m0s")
    assert(Durations.format(java.time.Duration.ofSeconds(90)) == "1m30s")
    assert(Durations.format(java.time.Duration.ofSeconds(7200)) == "2h0m0s")
    assert(Durations.format(java.time.Duration.ZERO) == "0s")
  }

  test("csv read: inference, widening, headerless naming") {
    val dir = freshDir("csv")
    val f = dir.resolve("sample.csv")
    Files.writeString(f,
      """id,amount,when,span,tag,zip
        |1,3.5,2020-01-02,5m,alpha,00501
        |2,4,2020-02-03 10:00:00,2h,beta,10001
        |,null,NA,,gamma,
        |""".stripMargin)
    val df = CsvSource.read(spark, f.toString)
    val types = df.schema.fields.map(x => (x.name, x.dataType.typeName)).toMap
    assert(types("id") == "long")
    assert(types("amount") == "double")      // widened int→float
    assert(types("when").startsWith("timestamp")) // NTZ: faithful no-tz parse
    assert(types("span").startsWith("daytimeinterval") || types("span").startsWith("interval"))
    assert(types("tag") == "string")
    assert(types("zip") == "string")         // leading zero forces string
    assert(df.count() == 3)
    val r1 = df.filter("id = 1").collect().head
    assert(r1.getDouble(1) == 3.5)

    val nh = dir.resolve("nohdr.csv")
    Files.writeString(nh, "1,x\n2,y\n")
    val df2 = CsvSource.read(spark, nh.toString, header = false)
    assert(df2.columns.sameElements(Seq("col1", "col2")))
  }

  test("quoted cells keep embedded commas; cells trim on read (selector.go:301)") {
    val dir = freshDir("quoted")
    val f = dir.resolve("quoted.csv")
    Files.writeString(f,
      "name,note,num\n" +
      "\"a, b\",\"  spaced  \", 42\n" +
      "c,x,7\n")
    val df = CsvSource.read(spark, f.toString)
    val types = df.schema.fields.map(x => (x.name, x.dataType.typeName)).toMap
    assert(types("num") == "long") // " 42" trims before typing
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.contains(("a, b", "spaced", 42L)), rows.mkString(";"))
    assert(rows.contains(("c", "x", 7L)))
  }

  test("inference samples only the first 10k rows (reference utils.go:434)") {
    val dir = freshDir("cutoff")
    val f = dir.resolve("mixed.csv")
    val sb = new StringBuilder("v\n")
    (1 to 10000).foreach(i => sb.append(i).append('\n'))
    sb.append("10000.5\n") // row 10001: float — beyond the sample window
    Files.writeString(f, sb.toString)
    val df = CsvSource.read(spark, f.toString)
    assert(df.schema.fields.head.dataType.typeName == "long")
    // the unsampled float cell can't cast to long → null (documented
    // divergence: the reference's Go parser yields a zero value)
    assert(df.filter("v IS NULL").count() == 1)
  }

  // ---- inference early exit -----------------------------------------

  /** The pre-early-exit classification: every cell folded. */
  private def fullFold(cells: Seq[String]): CsvSource.LatType =
    cells.foldLeft(CsvSource.LNull: CsvSource.LatType) { (acc, c) =>
      val t = CsvSource.narrowest(c)
      if (t.rank > acc.rank) t else acc
    }

  private val cellKinds: Seq[Seq[String]] = Seq(
    Seq("42", "-3", "+7", "0"),                            // int
    Seq("3.14", "1e5", ".5", "-2.0"),                      // float
    Seq("007", "00501"),                                   // leading-zero id
    Seq("2020-01-02", "2020-01-02 10:11:12", "02.01.2020"), // date
    Seq("5 minutes", "72h3m", "100ms"),                    // duration
    Seq("", "null", "NA", " "),                            // null
    Seq("hello", "x y", "N/A"))                            // string

  test("early-exit column typing equals the full fold: every order of every kind") {
    val one = cellKinds.map(_.head)
    one.permutations.foreach { cells =>
      assert(CsvSource.columnType(cells.iterator) == fullFold(cells), cells.mkString("|"))
    }
  }

  test("early-exit column typing equals the full fold: seeded random columns") {
    val rnd = new scala.util.Random(20261017L)
    val pool = cellKinds.flatten
    (1 to 400).foreach { _ =>
      // a skewed mix: some columns never see a string, some start or
      // end with one
      val kinds = rnd.shuffle(cellKinds).take(1 + rnd.nextInt(cellKinds.size)).flatten
      val body = Seq.fill(rnd.nextInt(40))(
        if (rnd.nextInt(10) == 0) pool(rnd.nextInt(pool.size)) else kinds(rnd.nextInt(kinds.size)))
      val cells = rnd.nextInt(4) match {
        case 0 => "hello" +: body
        case 1 => body :+ "hello"
        case _ => body
      }
      assert(CsvSource.columnType(cells.iterator) == fullFold(cells), cells.mkString("|"))
    }
  }

  // ---- sampler numeric scan -----------------------------------------

  /** The regex classification the sampler's char scan replaced. */
  private def regexNarrowest(cell: String): CsvSource.LatType = {
    import CsvSource._
    val leadingZeroInt = """^0\d+$""".r
    val intRe = """^[+-]?\d+$""".r
    val floatRe = """^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$""".r
    val v = cell.trim
    if (v.isEmpty || v.equalsIgnoreCase("null") || v == "NA") LNull
    else if (leadingZeroInt.matches(v)) LStr
    else if (intRe.matches(v)) LInt
    else if (floatRe.matches(v)) LFloat
    else if (Durations.parse(v).isDefined) LDur
    else if (parseDate(v).isDefined) LDate
    else LStr
  }

  private def sameAsRegex(cells: Iterable[String]): Unit = cells.foreach { c =>
    assert(CsvSource.narrowest(c) == regexNarrowest(c), s"'$c'")
  }

  test("sampler scan equals the regex classification: named shapes") {
    sameAsRegex(Seq("5", "+5", "-5", "+", "-", ".5", "5.", ".", "-.5", "+5.e3", "5.5.5",
      "1e5", "1E+5", "1e-05", "1e", "1e+", "e5", ".e5", "1.5e5.5", "0", "00", "007", "-007",
      "+007", "0.5", "007.5", "0e5", " 42 ", "\t42", "42\n", "4 2", "١٢٣", "٣.٥", "１２３",
      "12a", "0x10", "1d", "Infinity", "NaN", "1,000", "1h", "2020-01-02", "null", "NA"))
  }

  test("sampler scan equals the regex classification: every cell of up to 4 symbols") {
    val alphabet = Seq("0", "7", "+", "-", ".", "e", "E", " ", "\t", "١", "x")
    val cells = (1 to 4).scanLeft(Seq("")) { (prev, _) =>
      for (p <- prev; a <- alphabet) yield p + a
    }.flatten
    assert(cells.size == 16105)
    sameAsRegex(cells)
  }

  test("sampler scan equals the regex classification: seeded random cells") {
    import org.scalacheck.Gen
    val sym = Gen.frequency(8 -> Gen.numChar, 2 -> Gen.oneOf('+', '-', '.', 'e', 'E', ' '),
      1 -> Gen.oneOf('\t', '٣', 'a', '０'))
    val cell = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, sym)).map(_.mkString)
    val cells = (0 until 5000).flatMap(i =>
      cell(Gen.Parameters.default, org.scalacheck.rng.Seed(20261018L + i)))
    assert(cells.size == 5000)
    sameAsRegex(cells)
  }

  // ---- inferred-relation cache --------------------------------------

  test("cache hit: an unchanged file returns the same relation with 0 Spark jobs") {
    val f = freshDir("csvhit").resolve("t.csv")
    Files.writeString(f, "id,v\n1,a\n2,b\n")
    var first, second: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { first = CsvSource.read(spark, f.toString) } == 0,
      "a miss reads its sample on the driver")
    assert(jobsDuring { second = CsvSource.read(spark, f.toString) } == 0,
      "a hit must not re-infer")
    assert(second eq first)
    // the direct-path loader shares the same entry
    assert(graft.core.Tables.load(spark, f.toString) eq first)
  }

  test("cache: a same-length in-place rewrite in the same millisecond re-infers") {
    import java.nio.file.attribute.{BasicFileAttributes, FileTime}
    val f = freshDir("csvrw").resolve("t.csv")
    // both versions carry mtimes inside one millisecond, as a rewrite
    // right after a write would on a fast disk
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00.000000100Z")
    Files.writeString(f, "id,v\n1,10\n2,20\n")
    Files.setLastModifiedTime(f, FileTime.from(t0))
    val before = CsvSource.read(spark, f.toString)
    assert(before.schema("v").dataType.typeName == "long")
    val key0 = Files.readAttributes(f, classOf[BasicFileAttributes]).fileKey
    val len0 = Files.size(f)
    Files.writeString(f, "id,v\n1,ab\n2,cd\n") // truncate + rewrite
    Files.setLastModifiedTime(f, FileTime.from(t0.plusNanos(400)))
    assume(Files.getLastModifiedTime(f) != FileTime.from(t0),
      "the filesystem must keep sub-millisecond modification times")
    assert(Files.getLastModifiedTime(f).toMillis == t0.toEpochMilli)
    assert(Files.size(f) == len0)
    assert(Files.readAttributes(f, classOf[BasicFileAttributes]).fileKey == key0,
      "the rewrite must reuse the inode")
    val after = CsvSource.read(spark, f.toString)
    assert(!(after eq before))
    assert(after.schema("v").dataType.typeName == "string")
    assert(after.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("ab", "cd"))
  }

  test("cache: a Spark-written CSV directory rewritten with overwrite re-infers") {
    import spark.implicits._
    val dir = freshDir("csvdir").resolve("d.csv").toString
    Seq((1, 10), (2, 20)).toDF("id", "v")
      .write.option("header", "true").csv(dir)
    val before = CsvSource.read(spark, dir)
    assert(before.schema("v").dataType.typeName == "long")
    Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "v")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val after = CsvSource.read(spark, dir)
    assert(after.schema("v").dataType.typeName == "string")
    assert(after.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("x", "y", "z"))
  }

  test("cache: a header read and an nh read of one path are separate entries") {
    val f = freshDir("csvnh").resolve("t.csv")
    Files.writeString(f, "id,v\n1,2\n3,4\n")
    val hdr = CsvSource.read(spark, f.toString)
    val nh = CsvSource.read(spark, f.toString, header = false)
    assert(hdr.columns.toSeq == Seq("id", "v"))
    assert(hdr.schema("id").dataType.typeName == "long")
    assert(nh.columns.toSeq == Seq("col1", "col2"))
    assert(nh.schema("col1").dataType.typeName == "string") // "id" is a cell
    assert(nh.count() == 3 && hdr.count() == 2)
    assert(CsvSource.read(spark, f.toString) eq hdr)
    assert(CsvSource.read(spark, f.toString, header = false) eq nh)
  }

  test("cache off: spark.graft.relationCache.enabled=false re-infers every read") {
    val f = freshDir("csvoff").resolve("t.csv")
    Files.writeString(f, "id,v\n1,a\n")
    val key = "spark.graft.relationCache.enabled"
    spark.conf.set(key, "false")
    try {
      var a, b: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring { a = CsvSource.read(spark, f.toString) } == 0)
      assert(jobsDuring { b = CsvSource.read(spark, f.toString) } == 0)
      assert(!(a eq b))
    } finally spark.conf.unset(key)
  }

  // ---- driver-local head read ≡ Spark's two inference jobs -----------

  /** The inference input as Spark's own jobs produce it — the header
    * `take(1)` of an unschema'd read, then `limit(SampleRows).collect()`
    * over its all-string relation: the two-job path the head read
    * replaced, kept here as its oracle. */
  private def twoJobHead(path: String, header: Boolean): (Seq[String], Seq[Seq[String]]) = {
    val raw0 = spark.read.option("header", header.toString)
      .option("inferSchema", "false").csv(path)
    val raw = if (header) raw0
      else raw0.toDF(raw0.columns.indices.map(i => s"col${i + 1}"): _*)
    val sample = raw.limit(CsvSource.SampleRows).collect().toSeq
      .map(r => (0 until r.length).map(i => if (r.isNullAt(i)) null else r.getString(i)))
    (raw.columns.toSeq, sample)
  }

  private def typeName(t: CsvSource.LatType): String = t match {
    case CsvSource.LNull | CsvSource.LStr => "string"
    case CsvSource.LInt => "long"
    case CsvSource.LFloat => "double"
    case CsvSource.LDate => "timestamp_ntz"
    case CsvSource.LDur => "interval day to second"
  }

  /** The head read, and the schema `read` infers from it, equal the
    * oracle's names, sample (in order) and classification; and a fresh
    * read runs no Spark job. */
  private def sameAsTwoJobs(path: String, header: Boolean = true): Unit = {
    val (names, sample) = twoJobHead(path, header)
    val (gotNames, gotSample) = CsvSource.head(CsvSource.listing(spark, path, header), header)
    assert(gotNames == names, path)
    assert(gotSample.map(_.toSeq) == sample, path)
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { df = CsvSource.read(spark, path, header) } == 0, path)
    val want = names.indices.map { i =>
      names(i) -> typeName(CsvSource.columnType(sample.iterator.map(r => Option(r(i)).getOrElse(""))))
    }
    assert(df.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq == want, path)
  }

  private def write(path: java.nio.file.Path, text: String): String = {
    Files.writeString(path, text); path.toString
  }

  test("head read equals the two-job path: single files, empty files, nh") {
    val dir = freshDir("headone")
    val big = new StringBuilder("id,amount,when,tag\n")
    (1 to CsvSource.SampleRows + 1500).foreach { i =>
      big.append(s"$i,${i * 0.5},2020-01-${1 + i % 28},t$i\n")
    }
    val one = write(dir.resolve("big.csv"), big.toString)
    sameAsTwoJobs(one)
    sameAsTwoJobs(one, header = false)
    val hdrOnly = write(dir.resolve("hdr.csv"), "a,b,c\n")
    sameAsTwoJobs(hdrOnly)
    sameAsTwoJobs(hdrOnly, header = false)
    val empty = write(dir.resolve("empty.csv"), "")
    sameAsTwoJobs(empty)
    sameAsTwoJobs(empty, header = false)
    assert(CsvSource.head(CsvSource.listing(spark, empty, true), true)._1.isEmpty)
  }

  test("head read equals the two-job path: blank lines, CRLF, quoting, odd headers") {
    val dir = freshDir("headshape")
    val files = Seq(
      // blank and whitespace-only lines before the header and among rows
      "blank.csv" -> "\n  \n\na,b\n1,2\n\n   \n3,4\n\n",
      "crlf.csv" -> "a,b\r\n1,x\r\n\r\n2,y\r\n",
      // quoted comma, doubled quote, a quoted newline (a line break ends
      // a record on a line-split scan), and a quoted empty
      "quoted.csv" -> ("name,note\n\"a, b\",\"say \"\"hi\"\"\"\n" +
        "\"multi\nline\",z\n\"\",\"\"\n"),
      // duplicate names (case-insensitively too) and empty names
      "dups.csv" -> "a,a,A,,b,\n1,2,3,4,5,6\n",
      // short and long rows against the header
      "ragged.csv" -> "a,b,c\n1\n1,2,3,4,5\n,,\n",
      // null spellings stay cells for the classifier
      "nulls.csv" -> "a,b\nNA,null\n,\n")
    files.foreach { case (name, text) =>
      val p = write(dir.resolve(name), text)
      sameAsTwoJobs(p)
      sameAsTwoJobs(p, header = false)
    }
  }

  test("head read equals the two-job path: part files of different sizes, gzip") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    // three partitions of 3000, 6000 and 4500 rows: the scan reads the
    // largest part first and the sample spans two files, so both the
    // file order and each file's header skip show in the sample
    val df = spark.range(0, 30000, 1, 3)
      .filter(col("id") < 3000 || (col("id") >= 10000 && col("id") < 16000) ||
        (col("id") >= 20000 && col("id") < 24500))
      .select(col("id"), concat(lit("v"), col("id")).as("name"))
    val dir = Sinks.saveCsvDir(df, s"${freshDir("headparts")}/parts")
    val sizes = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .map(_.length).toSeq
    assert(sizes.size == 3 && sizes.distinct.size == 3, sizes.mkString(","))
    sameAsTwoJobs(dir)
    sameAsTwoJobs(dir, header = false)

    val gz = freshDir("headgz").resolve("t.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try out.write(("k,v\n" + (1 to 20000).map(i => s"$i,${i % 7}.5").mkString("\n"))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    sameAsTwoJobs(gz.toString)

    // the listing's splits are the ones the planned scan's own RDD reads
    Seq(dir, gz.toString).foreach { p =>
      val df = spark.read.option("header", "true").csv(p)
      val scan = df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.inputRDD
      }.get.asInstanceOf[org.apache.spark.sql.execution.datasources.FileScanRDD]
      def splits(ps: Seq[org.apache.spark.sql.execution.datasources.FilePartition]) =
        ps.map(_.files.map(f => (f.filePath.toString, f.start, f.length)).toSeq)
      val listed = org.apache.spark.sql.graftbridge.Bridge.filePartitions(
        CsvSource.listing(spark, p, header = true))
      assert(splits(listed) == splits(scan.filePartitions), p)
    }
  }

  test("head read: a directory with no file fails as Spark's inference does") {
    val empty = freshDir("headnone").toString
    val want = intercept[org.apache.spark.sql.AnalysisException](twoJobHead(empty, true))
    val got = intercept[org.apache.spark.sql.AnalysisException](CsvSource.read(spark, empty))
    assert(got.getMessage == want.getMessage)
  }
}
