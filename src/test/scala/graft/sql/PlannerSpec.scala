package graft.sql

import graft.SparkSpec

/** A local filesystem under the `probefs` scheme that records each
  * path Spark's data-source resolution touches (a table read), so a
  * spec can tell a read from a plain existence check. */
class ProbeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "probefs"
  override def getUri: java.net.URI = java.net.URI.create("probefs:///")
  private def seen(p: org.apache.hadoop.fs.Path): Unit =
    if (Thread.currentThread.getStackTrace.exists(
        _.getClassName.startsWith("org.apache.spark.sql.execution.datasources.DataSource")))
      ProbeFs.read.add(p.toString)
  override def getFileStatus(p: org.apache.hadoop.fs.Path) = { seen(p); super.getFileStatus(p) }
  override def exists(p: org.apache.hadoop.fs.Path): Boolean = { seen(p); super.exists(p) }
  override def listStatus(p: org.apache.hadoop.fs.Path) = { seen(p); super.listStatus(p) }
}

object ProbeFs {
  val read = new java.util.concurrent.ConcurrentLinkedQueue[String]
}

/** Dialect end-to-end: queries through GraftSession over the test
  * fixtures. Includes a good/bad corpus in the spirit of the
  * reference's TestAll (reference main_test.go:16-179): bad queries
  * must raise, good ones must run. */
class PlannerSpec extends SparkSpec {
  lazy val g: GraftSession = GraftSession(spark, sf0001)

  private def rows(q: String): Long = g.sql(q).count()

  test("projection + where + order + limit") {
    val df = g.sql(
      "select o_orderkey, o_totalprice from orders where o_totalprice > 100000 order by o_totalprice limit 5")
    val got = df.collect()
    assert(got.length == 5)
    // descending by default
    assert(got.head.getDouble(1) >= got.last.getDouble(1))
  }

  test("select * expands all columns") {
    assert(g.sql("select * from region").columns.sameElements(
      Seq("r_regionkey", "r_name")))
  }

  test("expression naming: bare keeps name, exprs get colN, alias wins") {
    val df = g.sql("select o_orderkey, o_totalprice * 2, x = o_custkey from orders")
    assert(df.columns.toSeq == Seq("o_orderkey", "col2", "x"))
  }

  test("group by with aggregates and having") {
    val df = g.sql(
      "select o_orderpriority, count(o_orderkey) from orders group by o_orderpriority having count(o_orderkey) > 10")
    assert(df.count() > 0)
    // dialect count returns float
    assert(df.schema.fields(1).dataType.typeName == "double")
  }

  test("implicit single group") {
    val df = g.sql("select sum(o_totalprice), max(o_totalprice) from orders")
    assert(df.count() == 1)
  }

  test("join chain with where and group") {
    val df = g.sql(
      """select n_name, sum(o_totalprice) from orders o
        |inner join customer c on o.o_custkey = c.c_custkey
        |inner join nation n on c.c_nationkey = n.n_nationkey
        |group by n_name""".stripMargin)
    assert(df.count() > 0)
  }

  test("left join emits nulls and '= null' matches them") {
    val n = rows(
      """select c_custkey from customer cu
        |left join orders o on cu.c_custkey = o.o_custkey
        |where o.o_orderkey = null""".stripMargin)
    // every sf0.001 customer has orders? then 0 — the shape must still plan
    assert(n >= 0)
  }

  test("distinct expression keeps one row per value") {
    val df = g.sql("select distinct o_orderpriority from orders")
    assert(df.count() == 5)
  }

  test("distinct keeps the FIRST row in natural order (reference fidelity)") {
    // orders.parquet is in o_orderkey order, so first-encountered per
    // priority == min orderkey per priority
    val got = g.sql("select distinct o_orderpriority, o_orderkey from orders")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = g.sql("select o_orderpriority, min(o_orderkey) from orders group by o_orderpriority")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("between is symmetric with half-open upper bound") {
    val a = rows("select o_orderkey from orders where o_totalprice between 100000 and 200000")
    val b = rows("select o_orderkey from orders where o_totalprice between 200000 and 100000")
    assert(a == b && a > 0)
  }

  test("like is case-insensitive") {
    assert(rows("select p_partkey from part where p_type like '%eco%'") ==
      rows("select p_partkey from part where p_type like '%ECO%'"))
  }

  test("date functions and date arithmetic") {
    val df = g.sql(
      "select year(o_orderdate), month(o_orderdate), o_orderdate + '7 days' from orders limit 3")
    assert(df.count() == 3)
  }

  test("date literal comparison retypes the literal") {
    assert(rows("select o_orderkey from orders where o_orderdate < '1995-06-01'") > 0)
  }

  test("duration arithmetic: date - date, duration compare") {
    val df = g.sql(
      "select o_orderkey from orders o inner join orders p on o.o_orderkey = p.o_orderkey limit 1")
    assert(df.count() == 1)
  }

  test("case expressions run") {
    assert(rows(
      """select case when o_totalprice > 200000 then 'big' else 'small' end,
        |case o_orderpriority when '1-URGENT' then 1 else 0 end from orders""".stripMargin) > 0)
  }

  test("in list with mixed literals") {
    assert(rows("select o_orderkey from orders where o_orderpriority in ('1-URGENT','2-HIGH')") > 0)
  }

  test("integer division truncates; % integer-only; ^ is power") {
    val r = g.sql("select 7 / 2, 7 % 2, 2 ^ 10 from region limit 1").collect().head
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 1L)
    assert(r.getLong(2) == 1024L)
  }

  test("text + text concatenates") {
    val r = g.sql("select 'a' + 'b' from region limit 1").collect().head
    assert(r.getString(0) == "ab")
  }

  test("count(*) and count(distinct)") {
    val r = g.sql("select count(*) as cnt, count(distinct o_orderpriority) as dp from orders")
      .collect().head
    assert(r.getDouble(0) > 0 && r.getDouble(1) == 5.0)
  }

  test("c prefix option: bare integers become positional column refs") {
    val r = g.sql("c select 2 from region order by 1 asc limit 1").collect().head
    assert(r.getString(0) == "AFRICA") // col2 = r_name, ordered by r_regionkey
  }

  test("unresolved bare words are text literals (reference parser.go:444)") {
    val r = g.sql("select r_name from region where r_name = AFRICA").collect()
    assert(r.length == 1 && r.head.getString(0) == "AFRICA")
  }

  test("_fN indexes files in first-use order per statement") {
    val rs = g.sqlAll(
      "select r_regionkey from region; select n.n_nationkey from nation n inner join _f1 m on n.n_nationkey = m.n_nationkey")
    assert(rs.size == 2)
    // statement 2's _f1 must be nation (its own first-used file), so the
    // self-join resolves m.n_nationkey; were _fN global, _f1 would be
    // region from statement 1 and the column lookup would fail
    assert(rs(1).count() == 25)
  }

  test("distinct + order + limit compose") {
    val got = g.sql("select distinct o_orderpriority from orders order by o_orderpriority asc limit 3")
      .collect().map(_.getString(0))
    assert(got.sameElements(Array("1-URGENT", "2-HIGH", "3-MEDIUM")))
  }

  test("quoted column names beside a date column stay columns (no literal retyping)") {
    // 'o_orderdate' resolves as the column; before the retypeLit guard
    // it was re-parsed as a date literal (null) and silently emptied
    // the predicate
    val all = g.sql("select o_orderkey from orders").count()
    assert(rows("select o_orderkey from orders where 'o_orderdate' = o_orderdate") == all)
  }

  test("avg/stdev(distinct) aggregate the UNIQUE values (reference btree dedup)") {
    // o_orderkey % 3 has values {0,1,2} with many duplicates
    val r = g.sql(
      "select avg(distinct o_orderkey % 3) as a, stdev(distinct o_orderkey % 3) as sd, stdevp(distinct o_orderkey % 3) as sp from orders")
      .collect().head
    assert(r.getDouble(0) == 1.0, s"avg(distinct {0,1,2}) must be 1.0, got ${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12) // stddev_samp({0,1,2}) = 1
    assert(math.abs(r.getDouble(2) - math.sqrt(2.0 / 3.0)) < 1e-12)
  }

  test("bare non-grouping column with aggregates = last scanned value (A6)") {
    // single-partition frame: scan order is row order, so the 'last
    // write' is deterministic — the max o_orderkey row's priority
    val r = g.sql(
      "select o_orderstatus, o_orderkey, max(o_totalprice) from orders group by o_orderstatus")
    assert(r.count() == 3) // runs (was an AnalysisException before)
    val one = g.sql("select o_orderpriority, count(o_orderkey) from orders")
      .collect().head
    assert(one.getString(0) != null) // implicit group: some row's value
  }

  test("inc() numbers retained rows 1..N, step scales, same index per row") {
    val got = g.sql(
      "select o_orderkey, inc() as rn, inc(0.5) as h from orders where o_orderkey > 100")
      .collect()
    val n = got.length
    assert(n > 0)
    assert(got.map(_.getDouble(1)).sorted.sameElements((1 to n).map(_.toDouble)))
    assert(got.forall(r => r.getDouble(2) == r.getDouble(1) * 0.5))
  }

  test("inc() scan order on multi-file input = (file name, offset)") {
    // two-file fixture: b.csv is LARGER (Spark's scan packs files by
    // size descending, so partition order would visit b first) but
    // lexicographically later — the contract says a.csv numbers first
    val dir = freshDir("multifile")
    java.nio.file.Files.writeString(dir.resolve("a.csv"),
      "task\na1\na2\na3\n")
    java.nio.file.Files.writeString(dir.resolve("b.csv"),
      "task\n" + (1 to 40).map(i => s"b$i-padded-to-make-this-file-bigger").mkString("\n") + "\n")
    val multi = graft.sources.CsvSource.read(spark, dir.toString)
    val gm = GraftSession(spark, sf0001).register("multi", multi)
    val got = gm.sql("select task, inc() as rn from multi")
      .collect().sortBy(_.getDouble(1))
    assert(got.length == 43)
    // a.csv rows first, in file order
    assert(got.take(3).map(_.getString(0)).toSeq == Seq("a1", "a2", "a3"))
    // then b.csv rows, in file order
    assert(got(3).getString(0) == "b1-padded-to-make-this-file-bigger")
    assert(got.last.getString(0) == "b40-padded-to-make-this-file-bigger")
    assert(got.map(_.getDouble(1)).toSeq == (1 to 43).map(_.toDouble))
  }

  test("distinct keep-first honors (file name, offset) scan order on 2 files") {
    // b.csv is LARGER (size-desc packing scans it first — and when both
    // tiny files pack into ONE partition, its rows get the smaller mids)
    // but lexicographically later: the contract says a.csv's row wins
    val dir = freshDir("distinct2f")
    java.nio.file.Files.writeString(dir.resolve("a.csv"),
      "key,src\nk1,a1\nk2,a2\n")
    java.nio.file.Files.writeString(dir.resolve("b.csv"),
      "key,src\n" + (1 to 40).flatMap(i =>
        Seq(s"k1,b$i-padded-to-make-this-file-bigger",
            s"k2,b$i-padded-to-make-this-file-bigger")).mkString("\n") + "\n")
    val multi = graft.sources.CsvSource.read(spark, dir.toString)
    val gm = GraftSession(spark, sf0001).register("multi", multi)
    val got = gm.sql("select distinct key src from multi")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("k1" -> "a1", "k2" -> "a2"))
  }

  test("last-write bare column honors (file name, offset) scan order on 2 files") {
    // same shape: bare `src` alongside count() must take the LAST row
    // in contract order = b.csv's final row per key, even though the
    // size-desc scan visits b.csv's rows first (smaller mids)
    val dir = freshDir("lw2f")
    java.nio.file.Files.writeString(dir.resolve("a.csv"),
      "key,src\nk1,a1\nk2,a2\n")
    java.nio.file.Files.writeString(dir.resolve("b.csv"),
      "key,src\n" + (1 to 40).flatMap(i =>
        Seq(s"k1,b$i-padded-to-make-this-file-bigger",
            s"k2,b$i-padded-to-make-this-file-bigger")).mkString("\n") + "\n")
    val multi = graft.sources.CsvSource.read(spark, dir.toString)
    val gm = GraftSession(spark, sf0001).register("multi", multi)
    val got = gm.sql("select key, src, count(src) as n from multi group by key")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got == Map(
      "k1" -> ("b40-padded-to-make-this-file-bigger", 41.0),
      "k2" -> ("b40-padded-to-make-this-file-bigger", 41.0)))
  }

  test("JSON files in FROM: direct path and relative-to-dir resolution") {
    val dir = freshDir("json")
    java.nio.file.Files.writeString(dir.resolve("items.json"),
      """{"a": 1, "b": "x"}
        |{"a": 7, "b": "y"}
        |{"a": 3, "b": "z"}
        |""".stripMargin)
    // absolute path
    val gj = GraftSession(spark, sf0001)
    val abs = gj.sql(s"select b from ${dir.resolve("items.json")} where a > 2 order by b asc")
      .collect().map(_.getString(0)).toSeq
    assert(abs == Seq("y", "z"))
    // relative name resolves against the session dir (CLI --dir analog)
    val gRel = GraftSession(spark, dir.toString)
    assert(gRel.sql("select a from items.json").count() == 3)
    // basename registration: second reference hits the registry
    assert(gRel.sql("select a from items where a = 1").count() == 1)
  }

  test("ORC files in FROM: same query answers as the parquet original") {
    val dir = freshDir("orc")
    val nation = spark.read.parquet(s"$sf0001/nation.parquet")
    nation.write.mode("overwrite").orc(dir.resolve("nation.orc").toString)
    val g = GraftSession(spark, sf0001)
    val q = "select n_regionkey, count(n_nationkey) as n from %s group by n_regionkey"
    val fromOrc = g.sql(q.format(dir.resolve("nation.orc")))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val fromParquet = g.sql(q.format("nation"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(fromOrc == fromParquet && fromOrc.nonEmpty)
    // relative resolution + basename registry, like csv/parquet/json
    val gRel = GraftSession(spark, dir.toString)
    assert(gRel.sql("select n_name from nation.orc").count() == nation.count())
  }

  test("XML files in FROM: direct path, relative resolution, <row> row tag") {
    val dir = freshDir("xml")
    java.nio.file.Files.writeString(dir.resolve("items.xml"),
      """<rows>
        |  <row><a>1</a><b>x</b></row>
        |  <row><a>7</a><b>y</b></row>
        |  <row><a>3</a><b>z</b></row>
        |</rows>
        |""".stripMargin)
    val gx = GraftSession(spark, sf0001)
    val abs = gx.sql(s"select b from ${dir.resolve("items.xml")} where a > 2 order by b asc")
      .collect().map(_.getString(0)).toSeq
    assert(abs == Seq("y", "z"))
    val gRel = GraftSession(spark, dir.toString)
    assert(gRel.sql("select a from items.xml").count() == 3)
    assert(gRel.sql("select a from items where a = 1").count() == 1)
  }

  test("uppercase extension strips from the alias (Data.CSV ⇒ alias Data)") {
    // ext dispatch is case-insensitive, so Items.CSV loads — the
    // alias must strip '.CSV' too or qualified column resolution
    // breaks on the dotted name (review finding r4)
    val dir = freshDir("ucase")
    java.nio.file.Files.writeString(dir.resolve("Items.CSV"),
      "a,b\n1,x\n7,y\n3,z\n")
    val g2 = GraftSession(spark, sf0001)
    val abs = g2.sql(
      s"select Items.b from ${dir.resolve("Items.CSV")} where Items.a > 2 order by b asc")
      .collect().map(_.getString(0)).toSeq
    assert(abs == Seq("y", "z"))
    val gRel = GraftSession(spark, dir.toString)
    assert(gRel.sql("select a from Items.CSV").count() == 3)
    assert(gRel.sql("select a from items where a = 1").count() == 1)
  }

  // ── bad-query corpus (dialect validity rules) ───────────────────────
  val badQueries = Seq(
    "select sum(o_totalprice) from orders where sum(o_totalprice) > 5" -> "agg in where",
    "select o_orderkey from orders where inc() > 5" -> "inc in where",
    "select max(o_totalprice) + o_custkey from orders" -> "agg + bare column",
    "select sum(count(o_custkey)) from orders" -> "nested aggregates",
    "select o_orderkey from orders where o_orderdate * 2 > 5" -> "date multiply",
    "select o_orderkey from orders where o_totalprice % 2 = 1" -> "float modulus",
    "select o_orderkey from orders having o_orderkey > 5" -> "bare column in having",
    "select o.nosuchcol from orders o" -> "unknown qualified column",
    "select count(distinct o_orderpriority) from orders group by o_orderstatus" -> "distinct agg with group by",
    "select o_orderkey from orders o inner join customer on o.o_custkey = c.c_custkey" -> "join alias missing")

  badQueries.foreach { case (q, why) =>
    test(s"rejects: $why") {
      assertThrows[Exception] { g.sql(q).collect() }
    }
  }

  // good combos from the reference corpus shape (main_test.go)
  val goodQueries = Seq(
    "select count(c_custkey) + count(c_name) from customer",
    "select count(o_orderkey) + 1 - 2 from orders",
    "select sum(o_totalprice) / count(o_orderkey) from orders",
    "select top 3 o_orderkey from orders",
    "select o_orderkey from orders where not o_totalprice < 100000 and o_orderpriority like '1%'",
    "select o_orderkey from orders where (o_totalprice > 100000 or o_custkey < 50) and o_orderpriority = '2-HIGH'",
    "select distinct hidden o_orderpriority, o_orderkey from orders",
    "select o_orderpriority, count(o_orderkey) from orders group by o_orderpriority order by count(o_orderkey)")

  goodQueries.foreach { q =>
    test(s"accepts: ${q.take(60)}") { assert(rows(q) >= 0) }
  }

  // ── session() scalar ──────────────────────────────────────────────

  test("session() numbers per-key sessions from 1, splitting on gap") {
    val df = g.sql(
      "select user_id, session(ts, '30 minutes', user_id) as sess from events")
    val stats = df.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.min("sess").as("lo"),
        org.apache.spark.sql.functions.max("sess").as("hi"))
      .collect()
    assert(stats.nonEmpty)
    assert(stats.forall(_.getLong(1) == 1L), "every user starts at session 1")
    assert(stats.exists(_.getLong(2) > 1L), "some user has >1 session")
  }

  test("session() plan: one hash-exchange, two stacked windows, no global sort") {
    val df = g.sql(
      "select user_id, max(session(ts, '30 minutes', user_id)) as n from events group by user_id")
    val p = df.queryExecution.executedPlan.toString
    // lag + running sum share the WindowSpec: partitioning is reused,
    // so only the window's own exchange plus the (AQE-planned) final
    // agg may hash-partition; nothing single-partitions.
    assert(!p.contains("Exchange SinglePartition"), p.take(800))
    assert(!p.contains("Exchange rangepartitioning"), p.take(800))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected <=1 hash exchange pre-AQE, got $exchanges\n${p.take(1200)}")
  }

  test("session() rejected in where; bad args rejected") {
    assertThrows[Exception] {
      g.sql("select user_id from events where session(ts, '30 minutes', user_id) > 1").collect()
    }
    assertThrows[Exception] {
      g.sql("select session(ts, user_id) from events").collect()
    }
    assertThrows[Exception] {
      g.sql("select session(ts, 'not a duration', user_id) from events").collect()
    }
    assertThrows[Exception] {
      g.sql("select session(user_id, '30 minutes', user_id) from events").collect()
    }
  }

  // ── dedup surface ─────────────────────────────────────────────────

  test("minhash_sig(text) yields the K-long ':'-joined signature") {
    val sig = g.sql("select doc_id, minhash_sig(text) as sig from documents")
    assert(sig.columns.toSeq == Seq("doc_id", "sig"))
    val first = sig.limit(1).collect()(0).getString(1)
    assert(first.split(":").length == 8, first)
  }

  test("content scalars simhash/fingerprint/lang_id/pii_redact compile and agree with their builders") {
    import graft.functions.TextFunctions
    val got = g.sql(
      """select doc_id, simhash(text) as sh, fingerprint(text) as fp,
        |lang_id(text) as lp, pii_redact(text) as red from documents""".stripMargin)
    assert(got.columns.toSeq == Seq("doc_id", "sh", "fp", "lp", "red"))
    val want = spark.read.parquet(s"$sf0001/documents.parquet").select(
      org.apache.spark.sql.functions.col("doc_id"),
      TextFunctions.simhash(TextFunctions.tokenHashes(
        org.apache.spark.sql.functions.col("text")), 24).as("sh"),
      TextFunctions.docFingerprint(
        org.apache.spark.sql.functions.col("text")).as("fp"),
      TextFunctions.langIdNative(
        org.apache.spark.sql.functions.col("text")).as("lp"),
      TextFunctions.piiRedact(
        org.apache.spark.sql.functions.col("text")).as("red"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // langIdNative ≡ the HOF langId mirror on the same corpus
    val hof = spark.read.parquet(s"$sf0001/documents.parquet").select(
      org.apache.spark.sql.functions.col("doc_id"),
      TextFunctions.langId(org.apache.spark.sql.functions.col("text")).as("lp"))
    assert(got.select("doc_id", "lp").exceptAll(hof).isEmpty)
    assertThrows[Exception](g.sql("select simhash(text, doc_id) from documents").collect())
  }

  test("dedup statements execute and match their builder shapes") {
    val pairs = g.sql("dedup near doc_id, text from documents")
    assert(pairs.columns.toSeq == Seq("doc_a", "doc_b"))
    val exact = g.sql("dedup exact doc_id, text from documents")
    assert(exact.columns.toSeq == Seq("text_md5", "keep_id", "n_copies"))
    assert(exact.count() > 0)
    // id/text column names are caller-chosen, resolved case-insensitively
    val renamed = g.sql("dedup exact DOC_ID, TEXT from documents")
    assert(renamed.count() == exact.count())
    assertThrows[Exception](
      g.sql("dedup near no_such_col, text from documents").collect())
    // threshold → the d04 verification stage on the candidates only
    val verified = g.sql("dedup near doc_id, text from documents threshold 0.5")
    assert(verified.columns.toSeq == Seq("doc_a", "doc_b", "jac"))
    assert(verified.count() <= pairs.count(),
      "thresholded pairs must be a subset of the candidates")
    assert(verified.filter("jac < 0.5").count() == 0)
  }

  test("shard and interleave statements execute with the builder shapes") {
    val sh = g.sql("shard doc_id from documents into 4")
    assert(sh.columns.toSeq == Seq("doc_id", "shard", "pos"))
    assert(sh.filter("shard < 0 or shard >= 4").count() == 0)
    assert(sh.count() == g.sql("select doc_id from documents").count())
    val il = g.sql("interleave doc_id, source from documents")
    assert(il.columns.toSeq == Seq("doc_id", "source", "pos", "rank"))
    // id must be integral (the multiplicative hash is integer math)
    assertThrows[Exception](g.sql("shard text from documents"))
    assertThrows[Exception](g.sql("shard doc_id from documents into 0"))
  }

  test("similar statement executes: per-query ANN top-k with ranks") {
    val knn = g.sql("similar vec_id, embedding from embeddings top 3")
    assert(knn.columns.toSeq == Seq("q_id", "n_id", "sim", "rank"))
    val perQuery = knn.groupBy("q_id").count().collect()
    assert(perQuery.nonEmpty)
    assert(perQuery.forall(_.getLong(1) <= 3L), "no query may exceed top k")
    assert(knn.filter("rank < 1 or rank > 3").count() == 0)
    // a non-vector column is rejected with a planner error
    assertThrows[Exception](
      g.sql("similar vec_id, label from embeddings").collect())
  }

  test("search statement executes: BM25 top-k over matching docs") {
    val hits = g.sql("search doc_id, text from documents for 'the and' top 5")
    assert(hits.columns.toSeq == Seq("doc_id", "n_terms", "bm25"))
    assert(hits.count() <= 5)
    assert(hits.filter("n_terms < 1").count() == 0)
    // non-token terms rejected at plan time
    assertThrows[Exception](
      g.sql("search doc_id, text from documents for 'a;b'"))
  }

  test("split statement executes: every doc labeled, buckets deterministic") {
    val sp = g.sql("split doc_id from documents into 90 5 5")
    assert(sp.columns.toSeq == Seq("doc_id", "split"))
    assert(sp.count() == g.sql("select doc_id from documents").count())
    assert(sp.filter("split not in ('train', 'val', 'test')").count() == 0)
    // deterministic: two plans agree row-for-row
    val again = g.sql("split doc_id from documents into 90 5 5")
    assert(sp.exceptAll(again).count() == 0)
    // id must be integral (the bucket hash is integer math)
    assertThrows[Exception](g.sql("split text from documents"))
  }

  test("cluster statement executes: every vector assigned to one of k cells") {
    val cl = g.sql("cluster vec_id, embedding from embeddings into 4")
    assert(cl.columns.toSeq == Seq("vec_id", "cell"))
    assert(cl.count() == g.sql("select vec_id from embeddings").count())
    assert(cl.filter("cell < 0 or cell >= 4").count() == 0)
    // a non-vector column is rejected with a planner error
    assertThrows[Exception](
      g.sql("cluster vec_id, label from embeddings").collect())
  }

  test("chunk statement executes: overlapping windows cover every token") {
    val ch = g.sql("chunk doc_id, text from documents size 32 overlap 8")
    assert(ch.columns.toSeq ==
      Seq("doc_id", "chunk_id", "chunk_text", "n_chunk_tokens"))
    assert(ch.filter("n_chunk_tokens < 1 or n_chunk_tokens > 32").count() == 0)
    // chunk 0 exists for every chunked doc; ids are dense from 0
    val perDoc = ch.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.min("chunk_id").as("mn"),
        org.apache.spark.sql.functions.max("chunk_id").as("mx"),
        org.apache.spark.sql.functions.count("*").as("c"))
    assert(perDoc.filter("mn != 0 or mx != c - 1").count() == 0,
      "chunk ids must be dense per doc")
  }

  test("pipeline statements run on inferred-schema CSV sources") {
    val p = s"$suiteDir/stmt_docs.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      """id,body
        |1,alpha beta gamma delta
        |2,alpha beta gamma delta
        |3,epsilon zeta
        |""".stripMargin)
    // the CSV lattice infers id as int — good enough for the id-hash
    // statements; column names are matched case-insensitively and
    // renamed to the builders' contract internally
    val ch = g.sql(s"chunk id, body from $p size 2 overlap 0")
    assert(ch.count() == 5, "2+2+1 chunks over the three docs")
    val de = g.sql(s"dedup exact id, body from $p")
    assert(de.count() == 2 && de.filter("n_copies = 2").count() == 1)
    val sp = g.sql(s"split id from $p into 80 10 10")
    assert(sp.count() == 3)
    val pr = g.sql(s"profile $p")
    assert(pr.count() == 2, "one profile row per CSV column")
  }

  test("pipeline statements compose in a multi-statement script") {
    val rs = g.sqlAll(
      "sample doc_id from documents pct 25; profile documents; chunk doc_id, text from documents size 32 overlap 8")
    assert(rs.size == 3)
    assert(rs(0).columns.toSeq == Seq("doc_id"))
    assert(rs(1).columns.head == "col_name")
    assert(rs(2).columns.contains("chunk_text"))
    assert(rs.forall(_.count() > 0))
  }

  test("sample statement executes: deterministic strict subset") {
    val s10 = g.sql("sample doc_id from documents pct 10")
    val s25 = g.sql("sample doc_id from documents pct 25")
    val all = g.sql("select doc_id from documents").count()
    assert(s10.columns.toSeq == Seq("doc_id"))
    assert(s10.count() > 0 && s10.count() < s25.count() && s25.count() < all,
      "larger pct keeps strictly more rows, both strict subsets")
    // monotone: pct 10's rows are a subset of pct 25's
    assert(s10.exceptAll(s25).count() == 0)
    assertThrows[Exception](g.sql("sample text from documents"))
  }

  test("weighted sample executes: exact n rows, nested by n, weight-sensitive") {
    val w50 = g.sql("sample doc_id from documents top 50 by n_chars")
    assert(w50.columns.toSeq == Seq("doc_id", "n_chars", "wkey"))
    assert(w50.count() == 50)
    // same keys, bigger n: the top-20 draw is a strict prefix of top-50
    val w20 = g.sql("sample doc_id from documents top 20 by n_chars")
    assert(w20.select("doc_id").exceptAll(w50.select("doc_id")).count() == 0)
    // weight matters: a constant-weight draw differs from the sized one
    // (n_chars spans 48..~1000, so the E-S keys reorder)
    val builderEq = graft.queries.ApproxQueries.weightedSample(
      g.sql("select doc_id, n_chars from documents"), "n_chars", 50)
    assert(w50.collect().toSeq == builderEq.collect().toSeq,
      "statement must equal the x10 builder row-for-row")
    assertThrows[Exception](g.sql("sample doc_id from documents top 5 by text"))
    assertThrows[Exception](g.sql("sample text from documents top 5 by n_chars"))
  }

  test("stratified weighted sample executes: n rows per group, builder-equal") {
    val st = g.sql("sample doc_id from documents top 3 by n_chars per source")
    assert(st.columns.toSeq == Seq("source", "doc_id", "n_chars", "wkey", "rk"))
    val perSrc = st.collect().groupBy(_.getString(0))
    assert(perSrc.nonEmpty && perSrc.values.forall(_.length <= 3))
    val builderEq = graft.queries.ApproxQueries.groupedWeightedSample(
      g.sql("select source, doc_id, n_chars from documents"),
      "source", "n_chars", 3)
    assert(st.collect().sortBy(_.getLong(1)).toSeq ==
      builderEq.collect().sortBy(_.getLong(1)).toSeq,
      "statement must equal the x13 builder row-for-row")
    // the group column must differ from id/weight (clean PlanError,
    // not a Catalyst ambiguity or a silent singleton-group degenerate)
    assertThrows[Exception](
      g.sql("sample doc_id from documents top 5 by n_chars per doc_id"))
    assertThrows[Exception](
      g.sql("sample doc_id from documents top 5 by n_chars per DOC_ID"))
  }

  test("mix statement executes: budget binds per source, builder-equal") {
    val m = g.sql("mix doc_id, text from documents budget 500 per source")
    assert(m.columns.toSeq == Seq("source", "doc_id", "n_tok", "cum_tok", "keep"))
    val rows = m.collect()
    assert(rows.nonEmpty)
    // admission rule: keep=1 iff the budget wasn't spent at doc start
    rows.foreach { r =>
      val starts = r.getLong(3) - r.getLong(2)
      assert((r.getLong(4) == 1L) == (starts < 500L))
    }
    val builderEq = graft.queries.PipelineQueries.tokenBudgetMix(
      g.sql("select doc_id, source, text from documents"), 500L)
    assert(rows.sortBy(_.getLong(1)).toSeq ==
      builderEq.collect().sortBy(_.getLong(1)).toSeq,
      "statement must equal the p12 builder row-for-row")
    // clean PlanErrors: column collisions, non-integral id, non-text
    assertThrows[Exception](
      g.sql("mix doc_id, text from documents per DOC_ID"))
    assertThrows[Exception](g.sql("mix text, text from documents"))
    assertThrows[Exception](g.sql("mix text, lang from documents"))
  }

  test("calibrate statement executes: builder-equal, clean errors") {
    val c = g.sql("calibrate doc_id, source, text from documents")
    assert(c.columns.toSeq ==
      Seq("doc_id", "source", "bucket", "pctile", "keep"))
    val rows = c.collect().sortBy(_.getLong(0)).toSeq
    assert(rows.nonEmpty)
    val builderEq = graft.queries.TextQueries.sourceQualityCalibration(
      g.sql("select doc_id, source, text from documents"))
      .collect().sortBy(_.getLong(0)).toSeq
    assert(rows == builderEq,
      "statement must equal the t42 builder row-for-row")
    // non-text text column -> clean PlanError
    assertThrows[Exception](
      g.sql("calibrate doc_id, source, n_chars from documents"))
  }

  test("negatives statement executes: builder-equal, clean errors") {
    val n = g.sql("negatives vec_id, embedding, label from embeddings top 3")
    assert(n.columns.toSeq == Seq("q_id", "n_id", "sim", "rank"))
    val rows = n.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows.nonEmpty)
    val builderEq = graft.queries.VectorQueries.hardNegatives(
      g.sql("select vec_id, embedding, label from embeddings"), 12, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows == builderEq,
      "statement must equal the v37 builder pair-for-pair")
    // non-vector vec column / array label -> clean PlanErrors
    assertThrows[Exception](
      g.sql("negatives vec_id, label, embedding from embeddings"))
  }

  test("outliers statement executes: builder-equal, clean errors") {
    val o = g.sql("outliers vec_id, embedding from embeddings top 10")
    assert(o.columns.toSeq == Seq("vec_id", "cell", "dist"))
    val rows = o.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(rows.size == 10)
    val builderEq = graft.queries.VectorQueries.centroidOutliersOf(
      g.sql("select vec_id, embedding from embeddings"), topN = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(rows == builderEq,
      "statement must equal the v39 builder row-for-row")
    // non-vector column -> clean PlanError
    assertThrows[Exception](g.sql("outliers embedding, vec_id from embeddings"))
  }

  test("dedup semantic executes: builder-equal, threshold honored, clean errors") {
    val d = g.sql("dedup semantic vec_id, embedding from embeddings")
    assert(d.columns.toSeq == Seq("vec_id", "cell", "keep"))
    val rows = d.collect().map(_.toSeq).toSet
    val builderEq = graft.queries.DedupQueries.semanticDedup(
      g.sql("select vec_id, embedding from embeddings"))
      .collect().map(_.toSeq).toSet
    assert(rows == builderEq, "statement must equal the d08 builder")
    // a cosine bar of 1.0 dominates nothing on distinct vectors ->
    // every row kept
    val strict = g.sql(
      "dedup semantic vec_id, embedding from embeddings threshold 1.0")
    assert(strict.filter(
      org.apache.spark.sql.functions.col("keep") === 0L).count() == 0)
    // non-vector column -> clean PlanError
    assertThrows[Exception](
      g.sql("dedup semantic vec_id, vec_id from embeddings"))
  }

  test("repair statement executes: builder-equal, huge threshold is idempotent") {
    val r = g.sql("repair vec_id, embedding from embeddings")
    assert(r.columns.toSeq == Seq("vec_id", "cell_old", "cell_new"))
    val rows = r.collect().map(_.toSeq).toSet
    val builderEq = graft.queries.VectorQueries.ivfRepair(
      g.sql("select vec_id, embedding from embeddings"))
      .collect().map(_.toSeq).toSet
    assert(rows == builderEq, "statement must equal the v41 builder")
    // a threshold no centroid can exceed -> no dirty cells, no moves
    assert(g.sql(
      "repair vec_id, embedding from embeddings threshold 999").count() == 0)
    // non-vector column -> clean PlanError
    assertThrows[Exception](g.sql("repair embedding, vec_id from embeddings"))
  }

  test("index/serve/repair-using statements: the persisted lifecycle end-to-end") {
    import org.apache.spark.sql.functions.{col, sum}
    val p = s"$suiteDir/plannerspec_idx"
    // build: per-cell report covers the whole corpus
    val rep = g.sql(s"index vec_id, embedding from embeddings into '$p'")
    assert(rep.columns.toSeq == Seq("cell", "n_vecs"))
    assert(rep.agg(sum(col("n_vecs"))).head.getLong(0) ==
      g.sql("select vec_id from embeddings").count())
    // serve: k respected, builder-equal against IvfIndex.serve
    val served = g.sql(s"serve vec_id, embedding from '$p' top 3")
    assert(served.columns.toSeq == Seq("q_id", "n_id", "sim", "rank"))
    assert(served.count() > 0 && served.filter(col("rank") > 3).count() == 0)
    // repair using: equals the in-memory repair statement move list
    val viaIdx = g.sql(s"repair vec_id, embedding from embeddings using '$p'")
      .collect().map(_.toSeq).toSet
    val inMem = g.sql("repair vec_id, embedding from embeddings")
      .collect().map(_.toSeq).toSet
    assert(viaIdx == inMem, "indexed repair must equal the in-memory path")
    // clean errors: missing index path, not-an-index directory
    assertThrows[Exception](g.sql(s"serve vec_id, embedding from '$suiteDir/nonexistent_idx'"))
    // external batch: every query routes to ONE cell and gets ≤ k hits
    import org.apache.spark.sql.functions.countDistinct
    val qb = s"$suiteDir/plannerspec_qbatch"
    g.sql("select vec_id, embedding from embeddings where vec_id < 7")
      .select((col("vec_id") + org.apache.spark.sql.functions.lit(5000L))
        .as("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(qb)
    val ext = g.sql(s"serve vec_id, embedding from '$p' query '$qb' top 2")
    assert(ext.columns.toSeq == Seq("q_id", "n_id", "sim", "rank"))
    assert(ext.agg(countDistinct(col("q_id"))).head.getLong(0) == 7L)
    assert(ext.filter(col("rank") > 2).count() == 0)
    assertThrows[Exception](
      g.sql(s"serve vec_id, embedding from '$p' query '$suiteDir/no_such_batch'"))
  }

  test("ingest/compact statements: the append lifecycle end-to-end, clean errors") {
    import org.apache.spark.sql.functions.{col, lit, sum}
    val p = s"$suiteDir/plannerspec_ing"
    g.sql(s"index vec_id, embedding from embeddings into '$p'")
    val n = g.sql("select vec_id from embeddings").count()
    val ap = s"$suiteDir/plannerspec_arr"
    g.sql("select vec_id, embedding from embeddings where vec_id < 7")
      .select((col("vec_id") + lit(7000L)).as("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(ap)
    // overwrite ingest: readback = base ∪ arrivals
    val got = g.sql(s"ingest vec_id, embedding from '$ap' into '$p'")
    assert(got.columns.toSeq == Seq("vec_id", "cell"))
    assert(got.count() == n + 7)
    // append ingest: version-resolved readback, re-ingest not doubled
    g.sql(s"ingest vec_id, embedding from '$ap' into '$p' append")
    assert(g.sql(s"ingest vec_id, embedding from '$ap' into '$p' append")
      .count() == n + 7)
    // un-compacted appends refuse to serve; compact restores it
    assertThrows[Exception](g.sql(s"serve vec_id, embedding from '$p' top 2"))
    val rep = g.sql(s"compact '$p' files 1")
    assert(rep.columns.toSeq == Seq("cell", "n_vecs"))
    assert(rep.agg(sum(col("n_vecs"))).head.getLong(0) == n + 7)
    assert(g.sql(s"serve vec_id, embedding from '$p' top 2").count() > 0)
    // clean errors: not-an-index paths
    assertThrows[Exception](
      g.sql(s"ingest vec_id, embedding from '$ap' into '$suiteDir/no_such_idx'"))
    assertThrows[Exception](g.sql(s"compact '$suiteDir/no_such_idx'"))
  }

  test("drift statement executes: self-drift is zero, builder-equal, clean errors") {
    val d = g.sql("drift embedding from embeddings against embeddings")
    assert(d.columns.toSeq == Seq("dim", "psi", "shifted"))
    val rows = d.collect()
    assert(rows.length == graft.queries.ApproxQueries.DriftDims)
    rows.foreach { r =>
      assert(r.getDouble(1) == 0.0 && !r.getBoolean(2),
        "a snapshot can't drift from itself")
    }
    // statement ≡ builder on the same two (here identical) frames
    val builderEq = graft.queries.ApproxQueries.embeddingDrift(
      g.sql("select embedding from embeddings"),
      g.sql("select embedding from embeddings")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap == builderEq)
    // non-vector column -> clean PlanError
    assertThrows[Exception](
      g.sql("drift doc_id from documents against documents"))
  }

  test("epochs statement executes: builder-equal, clean errors") {
    val e = g.sql("epochs source, text from documents budget 5000")
    assert(e.columns.toSeq ==
      Seq("source", "n_tokens", "weight", "epochs", "eff_tokens"))
    val rows = e.collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(rows.nonEmpty)
    val builderEq = graft.queries.PipelineQueries.epochPlan(
      g.sql("select source, text from documents"), 5000L)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(rows == builderEq, "statement must equal the p14 builder")
    // non-text text column -> clean PlanError
    assertThrows[Exception](g.sql("epochs source, n_chars from documents"))
  }

  test("retention statement executes: builder-equal, clean errors") {
    val r = g.sql("retention user_id, ts from events")
    assert(r.columns.toSeq == Seq("cohort", "wk", "week_idx", "n_active"))
    val rows = r.collect().map(_.toSeq).toSet
    assert(rows.nonEmpty)
    val builderEq = graft.queries.EventQueries.retentionCohortsOf(
      g.sql("select user_id, ts from events")).collect().map(_.toSeq).toSet
    assert(rows == builderEq, "statement must equal the e24 builder")
    // non-timestamp ts column -> clean PlanError
    assertThrows[Exception](g.sql("retention user_id, event_type from events"))
  }

  test("diff statement executes: self-diff all retained, distinct snapshots builder-equal") {
    import org.apache.spark.sql.functions._
    val d = g.sql("diff text from documents against documents")
    assert(d.columns.toSeq == Seq("status", "n_fps", "n_docs", "n_chars"))
    val self = d.collect()
    assert(self.length == 1 && self.head.getString(0) == "retained",
      "a corpus diffed against itself is all retained")
    // DISTINCT snapshots through the statement path: register the two
    // doc_id%3 thirds the d20 gate uses and diff them by table name
    val docs = g.sql("select doc_id, text from documents")
    val gm = graft.sql.GraftSession(spark, sf0001)
      .register("snap_old", docs.filter(col("doc_id") % 3 =!= 0).select(col("text")))
      .register("snap_new", docs.filter(col("doc_id") % 3 =!= 1).select(col("text")))
    val viaStmt = gm.sql("diff text from snap_old against snap_new")
      .collect().map(_.toSeq).toSet
    def side(df: org.apache.spark.sql.DataFrame) = df.select(col("text"),
      coalesce(octet_length(col("text")).cast("long"), lit(0L)).as("n_chars"))
    val builderEq = graft.queries.DedupQueries.snapshotDiff(
      side(docs.filter(col("doc_id") % 3 =!= 0)),
      side(docs.filter(col("doc_id") % 3 =!= 1)))
      .collect().map(_.toSeq).toSet
    assert(viaStmt == builderEq, "statement must equal the d20 builder")
    assert(viaStmt.size == 3, "distinct snapshots carry added+removed+retained")
    // non-text column -> clean PlanError
    assertThrows[Exception](g.sql("diff doc_id from documents against documents"))
  }

  test("fertility statement executes: builder-equal, clean errors") {
    val f = g.sql("fertility lang, text from documents")
    assert(f.columns.toSeq == Seq("lang", "n_docs", "n_words", "n_subwords",
      "fertility", "chars_per_subword"))
    val rows = f.collect().map(_.toSeq).toSet
    assert(rows.nonEmpty)
    val builderEq = graft.queries.TextQueries.tokenFertility(
      g.sql("select lang, text from documents")).collect().map(_.toSeq).toSet
    assert(rows == builderEq, "statement must equal the t44 builder")
    assertThrows[Exception](g.sql("fertility lang, doc_id from documents"))
  }

  test("packing statement executes: builder-equal, sizes honored, clean errors") {
    val p = g.sql("packing doc_id, text from documents sizes 128")
    assert(p.columns.toSeq == Seq("size", "n_bins", "spanning_docs", "fill_rate"))
    val rows = p.collect().map(_.toSeq).toSet
    assert(rows.size == 1)
    val builderEq = graft.queries.TextQueries.packEfficiency(
      g.sql("select doc_id, text from documents"), Seq(128L))
      .collect().map(_.toSeq).toSet
    assert(rows == builderEq, "statement must equal the t45 builder")
    assert(g.sql("packing doc_id, text from documents").collect().length == 3,
      "default sizes are 256/512/1024")
    assertThrows[Exception](g.sql("packing doc_id, n_chars from documents"))
  }

  test("dedup best executes: one keeper per cluster, builder-equal") {
    val b = g.sql("dedup best doc_id, text from documents")
    assert(b.columns.toSeq == Seq("doc_id", "cluster_id", "quality", "keep"))
    val rows = b.collect()
    assert(rows.nonEmpty)
    val perCluster = rows.groupBy(_.getLong(1))
    assert(perCluster.values.forall(_.count(_.getLong(3) == 1L) == 1),
      "exactly one keeper per cluster")
    // the keeper is the cluster's max-quality doc (ties to lowest id)
    perCluster.values.foreach { cs =>
      val keeper = cs.find(_.getLong(3) == 1L).get
      val best = cs.minBy(r => (-r.getDouble(2), r.getLong(0)))
      assert(keeper.getLong(0) == best.getLong(0))
    }
  }

  test("trend statement executes: k rows max per window, count ranking") {
    val tr = g.sql("trend ts, event_type from events top 2")
    assert(tr.columns.toSeq == Seq("ws", "event_type", "n", "rk"))
    val rows = tr.collect()
    assert(rows.nonEmpty)
    val perWindow = rows.groupBy(_.getTimestamp(0))
    assert(perWindow.values.forall(_.length <= 2), "at most k rows per window")
    // rank 1 is the max-count type of its window
    perWindow.values.foreach { ws =>
      val byRk = ws.sortBy(_.getLong(3))
      assert(byRk.head.getDouble(2) >= byRk.last.getDouble(2))
    }
    // ts must be a timestamp column
    assertThrows[Exception](g.sql("trend user_id, event_type from events"))
  }

  test("card statement executes: one consistent datasheet row") {
    val c = g.sql("card doc_id, text from documents")
    assert(c.columns.toSeq ==
      Seq("n_docs", "n_tokens", "dup_docs", "mean_quality"))
    val r = c.collect().head
    val nDocs = g.sql("select doc_id from documents").count()
    assert(r.getLong(0) == nDocs && r.getLong(1) > 0)
    assert(r.getLong(2) >= 0 && r.getLong(2) <= nDocs)
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    assertThrows[Exception](g.sql("card doc_id, n_chars from documents"))
  }

  test("quantize statement executes: codes in [0, 2^32), builder-equal") {
    val qz = g.sql("quantize vec_id, embedding from embeddings")
    assert(qz.columns.toSeq == Seq("vec_id", "code_lo", "code_hi"))
    val rows = qz.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val lo = r.getLong(1); val hi = r.getLong(2)
      lo >= 0L && lo < (1L << 32) && hi >= 0L && hi < (1L << 32)
    }, "each packed 32-bit half must stay below 2^32")
    assertThrows[Exception](g.sql("quantize vec_id, label from embeddings"))
  }

  test("pack statement executes: contiguous global token layout") {
    val pk = g.sql("pack doc_id, text from documents size 256")
    assert(pk.columns.toSeq ==
      Seq("doc_id", "n_tok", "tok_start", "first_bin", "last_bin"))
    // offsets tile the concatenated corpus exactly: sum of lengths =
    // max(tok_start + n_tok), and bins are consistent with offsets
    val agg = pk.agg(
      org.apache.spark.sql.functions.sum("n_tok"),
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("tok_start") +
          org.apache.spark.sql.functions.col("n_tok"))).collect()(0)
    assert(agg.getLong(0) == agg.getLong(1))
    assert(pk.filter("first_bin != tok_start div 256").count() == 0)
  }

  test("profile statement executes: one row per column, stats typed by numericness") {
    val pr = g.sql("profile documents")
    assert(pr.columns.toSeq ==
      Seq("col_name", "n", "n_null", "n_distinct", "min_v", "max_v", "mean_v"))
    val rows = pr.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("doc_id", "text", "lang", "source", "n_chars"))
    // numeric columns carry stats; strings get NULLs but still count
    assert(!rows("doc_id").isNullAt(4) && !rows("n_chars").isNullAt(6))
    assert(rows("text").isNullAt(4) && rows("text").isNullAt(6))
    assert(rows.values.forall(_.getLong(1) == rows("doc_id").getLong(1)),
      "every column reports the same row count")
  }

  test("an absolute extensionless FROM path is read as itself, never probed under the data dir") {
    import spark.implicits._
    val data = freshDir("absdata").toString
    val target = s"$suiteDir/abs_work/t"
    Seq(1L, 2L, 3L).toDF("v").write.parquet(target)
    // a decoy where a data-dir probe of the path would look
    Seq(99L).toDF("v").write.parquet(s"$data/${target.toLowerCase}.parquet")
    val got = GraftSession(spark, data).sql(s"select v from $target").as[Long].collect()
    assert(got.sorted.toSeq == Seq(1L, 2L, 3L))
    // a colon before any slash is no URI scheme to the absoluteness
    // test: the name reaches the catalog lookup, which rejects it
    val e = intercept[Exception](GraftSession(spark, data).table("a:b"))
    assert(!String.valueOf(e.getMessage).contains("URI"), e)
  }

  test("a catalog-only name is never read under the data dir; a data-dir file still shadows a view") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.probefs.impl", classOf[ProbeFs].getName)
    val local = freshDir("probedata").toString
    val data = s"probefs://$local"
    Seq(1L, 2L).toDF("v").write.parquet(s"$local/shadowed.parquet")
    Seq(99L).toDF("v").createOrReplaceTempView("shadowed")
    Seq(7L).toDF("v").createOrReplaceTempView("catalog_only")
    try {
      ProbeFs.read.clear()
      val got = GraftSession(spark, data).sql("select v from catalog_only").as[Long].collect()
      assert(got.toSeq == Seq(7L))
      val reads = ProbeFs.read.asScala.filter(_.endsWith("catalog_only.parquet"))
      assert(reads.isEmpty, s"read under the data dir: ${reads.mkString(", ")}")
      val shadowed = GraftSession(spark, data).sql("select v from shadowed").as[Long].collect()
      assert(shadowed.sorted.toSeq == Seq(1L, 2L), "the data-dir file must win over the view")
      assert(ProbeFs.read.asScala.exists(_.endsWith("shadowed.parquet")),
        "the data-dir file is read through the data dir's own filesystem")
    } finally {
      spark.catalog.dropTempView("shadowed")
      spark.catalog.dropTempView("catalog_only")
    }
  }

  test("nested session() gets a dedicated error, not 'not allowed here'") {
    val e = intercept[Exception] {
      g.sql("select session(ts, '30 minutes', session(ts, '1 hours', user_id)) from events")
        .collect()
    }
    assert(e.getMessage.contains("nested"), e.getMessage)
  }
}
