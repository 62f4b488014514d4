package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sql.Durations

class SinksSpec extends SparkSpec {

  test("column duration formatting matches Durations.format (Go Duration.String)") {
    // µs-granular cases across every Go formatting branch: sub-ms,
    // fractional ms, fractional seconds, compound h/m/s, negatives
    val micros = Seq(0L, 1L, 999L, 1000L, 1500L, 100000L, 999999L,
      1000000L, 1500000L, 90500000L, 3600000000L, 5445500000L,
      -5445500000L, -100000L, 86400000000L * 3 + 3 * 60000000L + 500000L)
    import spark.implicits._
    val df = micros.toDF("us")
      .select(col("us"), (col("us") * expr("INTERVAL 1 MICROSECOND")).as("d"))
    val got = Sinks.formatted(df.select(col("d"))).collect().map(_.getString(0))
    val want = micros.map(u => Durations.format(java.time.Duration.ofNanos(u * 1000L)))
    got.zip(want).zip(micros).foreach { case ((g, w), u) =>
      assert(g == w, s"$u µs: column '$g' != driver '$w'")
    }
  }

  test("saveCsv writes one actual FILE; saveCsvDir writes one part per partition") {
    import spark.implicits._
    val df = (1 to 100).toDF("x").repartition(4)

    val single = Sinks.saveCsv(df, s"$suiteDir/sink_single")
    assert(single == s"$suiteDir/sink_single.csv")
    // reference parity: a plain .csv file at the path, not a part dir
    val f = new java.io.File(single)
    assert(f.isFile, "saveCsv must leave a single .csv FILE, not a Spark part directory")
    assert(scala.io.Source.fromFile(f).getLines().length == 101) // header + 100

    // overwriting a previous save (and a legacy directory-shaped one) works
    val again = Sinks.saveCsv(df.limit(5), s"$suiteDir/sink_single")
    assert(new java.io.File(again).isFile)
    assert(scala.io.Source.fromFile(again).getLines().length == 6)

    val par = Sinks.saveCsvDir(df, s"$suiteDir/sink_par")
    val parts = new java.io.File(par).listFiles().count(f => f.getName.startsWith("part-"))
    assert(parts == 4, "parallel save must not coalesce")
    // content round-trips
    val back = spark.read.option("header", "true").csv(par)
    assert(back.count() == 100)
  }

  test("saveCsvStreaming: partial rows are on disk while the query still runs") {
    // reference parity (files.go:85-156): rows stream to the save file
    // DURING execution. Two-partition frame; every row of partition 1
    // sleeps, so partition 0's rows must be visible on disk while the
    // writer thread is still draining partition 1.
    val slow = udf { (i: Long) => if (i >= 50) Thread.sleep(40); i }
    val df = spark.range(0, 100, 1, 2).select(slow(col("id")).as("id"))
    val path = s"$suiteDir/sink_stream.csv"
    new java.io.File(path).delete()
    @volatile var done = false
    val t = new Thread(() => { Sinks.saveCsvStreaming(df, path); done = true })
    t.start()
    def lines(): Int = {
      val f = new java.io.File(path)
      if (!f.isFile) 0 else scala.io.Source.fromFile(f).getLines().length
    }
    // poll for the mid-query state: some rows written, query not done
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var sawPartial = false
    while (!done && !sawPartial && System.nanoTime() < deadline) {
      val n = lines()
      if (n > 1 && n < 101 && !done) sawPartial = true else Thread.sleep(10)
    }
    t.join(60000)
    assert(done, "streaming save did not finish")
    assert(sawPartial, "no partial file was observable mid-query")
    // and the final file is complete + identical to the atomic writer's
    assert(lines() == 101)
    val expect = (0 until 100).map(_.toString)
    val got = scala.io.Source.fromFile(path).getLines().drop(1).toSeq
    assert(got == expect)
  }

  test("saveCsvStreaming matches saveCsv byte-for-byte on mixed types") {
    import spark.implicits._
    // fixture covers the writer-divergence traps: empty string (bare
    // on both — Go's csv.Writer never quotes empties), whitespace
    // padding (neither side trims), lone carriage return (quoted on
    // both), and non-ASCII (UTF-8 on both — a platform-charset
    // FileWriter would mangle it on C-locale boxes)
    val df = Seq(
      (1, 2.5, "plain", "with,comma"),
      (2, 1.0 / 3.0, "has \"quote\"", "line\nbreak"),
      (3, -0.0001, null.asInstanceOf[String], "z"),
      (4, 1.25, "", "  padded  "),
      (5, 0.5, "café 見本", "carriage\rreturn")
    ).toDF("i", "d", "s1", "s2").coalesce(1)
    val a = Sinks.saveCsv(df, s"$suiteDir/sink_ab_atomic")
    val b = Sinks.saveCsvStreaming(df, s"$suiteDir/sink_ab_stream")
    val fa = java.nio.file.Files.readString(java.nio.file.Paths.get(a))
    val fb = java.nio.file.Files.readString(java.nio.file.Paths.get(b))
    assert(fa == fb, s"atomic:\n$fa\nstreaming:\n$fb")
    assert(fa.contains("4,1.25,,"), "empty string stays a bare field (Go form)")
    assert(fa.contains("  padded  "), "whitespace must not be trimmed")
    assert(fa.contains("café 見本"), "UTF-8 must survive both writers")
    assert(fa.contains("\"carriage\rreturn\""), "lone CR forces quoting")
  }

  test("NTZ timestamps format at seconds precision like the reference") {
    import spark.implicits._
    val df = Seq("2020-01-02 10:11:12.5", "2020-01-02 10:11:12").toDF("s")
      .select(col("s").cast("timestamp_ntz").as("t"))
    val got = Sinks.formatted(df).collect().map(_.getString(0))
    assert(got.forall(_ == "2020-01-02 10:11:12"), got.mkString(","))
  }

  test("saved sub-ms durations re-ingest through CSV inference (µs spelling)") {
    import spark.implicits._
    // 500µs and 1.5ms — the sink emits Go µs/ms forms; a re-read must
    // classify the column as duration and parse to the same interval
    val micros = Seq(500L, 1500L, 90500000L)
    val df = micros.toDF("us")
      .select((col("us") * expr("INTERVAL 1 MICROSECOND")).as("dur"))
    val path = Sinks.saveCsv(df, s"$suiteDir/sink_durcsv")
    val back = CsvSource.read(spark, path)
    assert(back.schema.head.dataType.typeName.startsWith("interval"),
      s"re-ingested type: ${back.schema.head.dataType}")
    val got = back.select(col("dur").cast("decimal(20,6)")).collect()
      .map(r => math.round(r.getDecimal(0).doubleValue() * 1e6)).toSeq.sorted
    assert(got == micros.sorted, got.mkString(","))
  }

  test("duration format round-trips through parse at µs granularity") {
    Seq(1500L, 100000L, 1500000L, 90500000L, -90500000L).foreach { u =>
      val d = java.time.Duration.ofNanos(u * 1000L)
      assert(Durations.parse(Durations.format(d)).contains(d), Durations.format(d))
    }
  }

  test("saveShards writes hash-addressed shard dirs in md5 row order") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("source"))
    val n = 8
    val path = Sinks.saveShards(docs, "doc_id", n, s"$suiteDir/sink_shards")

    // every shard dir exists and the union round-trips the corpus
    val back = spark.read.parquet(path)
    assert(back.count() == docs.count())
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.length == n, dirs.mkString(","))

    // shard assignment matches the t32 formula for every row
    val misplaced = back.filter(
      ((col("doc_id") % lit(1000000L)) * lit(2654435761L)) % lit(n.toLong)
        =!= col("shard")).count()
    assert(misplaced == 0)

    // within one shard file, stored row order IS the md5 order a
    // sequential reader replays (one task wrote it sorted)
    val s0 = spark.read.parquet(s"$path/shard=0").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq
    val want = s0.sortBy(id =>
      (org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString), id))
    assert(s0 == want, "shard 0 rows must be stored in md5(doc_id) order")
  }

  test("saveShardedResult lands the `shard` statement's output in pos order") {
    val layout = graft.sql.GraftSession(spark, sf0001)
      .sql("shard doc_id from documents into 4")
    val path = Sinks.saveShardedResult(layout, s"$suiteDir/sink_shardstmt")
    val back = spark.read.parquet(path)
    assert(back.count() == layout.count())
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.length == 4, dirs.mkString(","))
    // stored row order within a shard IS pos order (one sorted task)
    val s0 = spark.read.parquet(s"$path/shard=0").select(col("pos"))
      .collect().map(_.getLong(0)).toSeq
    assert(s0 == s0.sorted, "shard 0 rows must be stored in pos order")
    // a result without shard/pos is rejected loudly
    assertThrows[IllegalArgumentException](
      Sinks.saveShardedResult(
        spark.read.parquet(s"$sf0001/documents.parquet"), s"$suiteDir/sink_bad"))

    // ROUND-TRIP: the sharded layout reads back through the dialect
    // FROM (partition discovery recovers the shard column), so the
    // written corpus is immediately queryable — e.g. per-shard counts
    val g = graft.sql.GraftSession(spark, sf0001)
    val counts = g.sql(s"select shard, count(doc_id) as n from $path group by shard")
    assert(counts.count() == 4)
    assert(counts.agg(org.apache.spark.sql.functions.sum(col("n")))
      .collect()(0).getDouble(0) == layout.count().toDouble)
  }

  test("export in miniature: both CSV savers read back through CsvSource") {
    import spark.implicits._
    import java.time.LocalDateTime
    val ts = LocalDateTime.parse("2024-01-02T03:04:05.678")
    val df = Seq(
      (1L, Some(9007199254740993L), Some(1234.5), Some(0.1f), Double.NaN, Some(ts), "a,b"),
      (2L, Some(-5L), Some(0.1 + 0.2), Some(3.0f), Double.PositiveInfinity,
        Some(ts.plusDays(40)), "NA"),
      (3L, Some(0L), Some(1e20), Some(-2.5f), -0.0, None, "  pad "),
      (4L, None, None, None, 1.5e-7, Some(ts.minusYears(30)), "x"))
      .toDF("id", "big", "price", "ratio", "odd", "ts", "name")
    val wantTypes = Seq("id" -> "long", "big" -> "long", "price" -> "double",
      "ratio" -> "double", "odd" -> "string", "ts" -> "timestamp_ntz", "name" -> "string")
    val sec = LocalDateTime.parse("2024-01-02T03:04:05")
    // doubles come back at %.10g; a column holding NaN or Infinity
    // comes back as strings; seconds precision; "NA" and "" are null
    val wantRows = Seq(
      Seq(1L, 9007199254740993L, 1234.5, 0.1000000015, "NaN", sec, "a,b"),
      Seq(2L, -5L, 0.3, 3.0, "Infinity", sec.plusDays(40), null),
      Seq(3L, 0L, 1e20, -2.5, "-0", null, "pad"),
      Seq(4L, null, null, null, "1.5e-07", sec.minusYears(30), "x"))
    def back(path: String): Unit = {
      val r = CsvSource.read(spark, path)
      assert(r.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq == wantTypes, path)
      assert(r.orderBy("id").collect().map(_.toSeq).toSeq == wantRows, path)
    }
    back(Sinks.saveCsvStreaming(df, s"$suiteDir/rt_stream"))
    back(Sinks.saveCsvDir(df.repartition(2), s"$suiteDir/rt_dir"))
  }

  // ---- ordered windowed writer ----------------------------------------

  test("an 8-partition frame on 4 cores saves in 2 jobs; both savers write the same bytes") {
    val df = spark.range(0, 800, 1, 8)
      .select(col("id"), concat(lit("r,"), col("id")).as("s"), (col("id") / 3.0).as("d"))
    assert(spark.sparkContext.defaultParallelism == 4)
    var a, b = ""
    assert(jobsDuring { b = Sinks.saveCsvStreaming(df, s"$suiteDir/win_stream") } == 2)
    assert(jobsDuring { a = Sinks.saveCsv(df, s"$suiteDir/win_single") } == 2)
    val fa = java.nio.file.Files.readString(java.nio.file.Paths.get(a))
    assert(fa == java.nio.file.Files.readString(java.nio.file.Paths.get(b)))
    // partition order is row order: the rows come back as ids 0..799
    val ids = fa.split("\n").toSeq.drop(1).map(_.takeWhile(_ != ',').toLong)
    assert(ids == (0L until 800L))
  }

  test("a task that throws mid-save fails both savers; saveCsv keeps the previous file") {
    val boom = udf { (i: Long) =>
      if (i == 650) throw new IllegalStateException("boom"); i
    }
    val df = spark.range(0, 800, 1, 8).select(boom(col("id")).as("id"))
    val dir = freshDir("winfail")
    val streamed = dir.resolve("s.csv").toString
    val e1 = intercept[org.apache.spark.SparkException](Sinks.saveCsvStreaming(df, streamed))
    assert(e1.getMessage.contains("boom"))

    val single = dir.resolve("one.csv")
    java.nio.file.Files.writeString(single, "previous\n")
    val e2 = intercept[org.apache.spark.SparkException](Sinks.saveCsv(df, single.toString))
    assert(e2.getMessage.contains("boom"))
    assert(java.nio.file.Files.readString(single) == "previous\n")
    assert(dir.toFile.list().toSet == Set("s.csv", "one.csv"), "no temp file left behind")
  }
}
