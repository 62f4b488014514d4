package graft.core

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graftbridge.CachedPlans
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import graft.sources.CsvSource
import graft.sql.GraftSession
import graft.trace.JobListener

/** The typed in-memory tier of [[RelationCache.columnar]]: the second
  * read of a CSV file version caches its typed relation, the statement
  * that scans it fills the cache, and a new version releases the old. */
class ColumnarTierSpec extends SparkSpec {

  private def cacheManager = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  private def cached(df: DataFrame): Option[CachedData] =
    cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])

  /** The RDD id of `df`'s cache, once a scan has filled it. */
  private def filledRdd(df: DataFrame): Option[Int] =
    cached(df).map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded).map(_.cachedColumnBuffers.id)

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rows(n: Int, salt: Int = 0): String = {
    val sb = new StringBuilder("id,k,d,amt,note\n")
    (1 to n).foreach { i =>
      val note = if (i % 97 == 0) "NA" else s"n${(i + salt) % 13}"
      // past the inference sample, a bad cell
      val amt = if (n > CsvSource.SampleRows && i == n - 3) "x" else f"${(i * 7 + salt) % 1000 / 10.0}%.1f"
      sb.append(s"$i,${"ABC" (i % 3)},2020-0${1 + i % 9}-1${i % 10},$amt,$note\n")
    }
    sb.toString
  }

  private def write(f: Path, text: String): Path = { Files.writeString(f, text); f }

  /** A statement's answer, sorted. */
  private def answer(df: DataFrame): Seq[Row] =
    df.filter(col("amt") > 20).groupBy("k").agg(count(lit(1)), sum("amt"), min("d"))
      .orderBy("k").collect().toSeq

  private val jobTags = new AtomicInteger

  /** Spark jobs `body` runs, counted by a [[JobListener]] tag. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val listener = new JobListener()
    val tag = s"tier-${jobTags.incrementAndGet()}"
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(JobListener.Key, tag)
      try body finally sc.setLocalProperty(JobListener.Key, null)
      var (prev, n) = (-1, 0)
      while ({ n = listener.jobRows(tag).size; n != prev || listener.activeJobs(tag) > 0 }) {
        prev = n; Thread.sleep(200)
      }
      n
    } finally sc.removeSparkListener(listener)
  }

  /** A query that needs no exchange, so adaptive execution does not
    * plan its cache scan as a stage of its own. */
  private def scan(df: DataFrame): Seq[Row] =
    df.filter(col("amt") > 50).select("id", "k", "amt").collect().toSeq.sortBy(_.getLong(0))

  override def afterAll(): Unit =
    try RelationCache.columnarEntries(spark).foreach(Materialize.release)
    finally super.afterAll()

  test("the second read fills the cache in its own scan; the third plans InMemoryTableScan") {
    val f = write(freshDir("tier").resolve("t.csv"), rows(20000)).toString
    val r1 = CsvSource.read(spark, f)
    assert(cached(r1).isEmpty, "a first read caches nothing")
    val jobs1 = jobsOf(assert(scan(r1).nonEmpty))
    val want = scan(r1)

    var r2: DataFrame = null
    assert(jobsOf { r2 = CsvSource.read(spark, f) } == 0, "persisting runs no job")
    assert(r2 eq r1, "the tier keeps the relation the reads share")
    assert(cached(r2).isDefined, "the second read registers the cache")
    assert(filledRdd(r2).isEmpty, "registering fills nothing")
    var got: Seq[Row] = null
    assert(jobsOf { got = scan(r2) } == jobs1, "the filling statement runs no extra job")
    assert(got == want)
    val id = filledRdd(r2)
    assert(id.exists(persisted), "the statement's own scan filled the cache")
    assert(cached(r2).get.cachedRepresentation.cacheBuilder.storageLevel ==
      StorageLevel.MEMORY_AND_DISK)

    val r3 = CsvSource.read(spark, f)
    val plan = r3.filter(col("amt") > 50).select("id").queryExecution.sparkPlan
    assert(plan.collectFirst { case s: InMemoryTableScanExec => s }.isDefined, plan.toString)
    assert(scan(r3) == want)
  }

  test("a statement with an exchange fills the cache through one stage job of its own") {
    val f = write(freshDir("tieraqe").resolve("t.csv"), rows(5000)).toString
    val r = CsvSource.read(spark, f)
    val want = answer(r)
    val jobs1 = jobsOf(answer(r))
    CsvSource.read(spark, f)
    var got: Seq[Row] = null
    // adaptive execution materializes an unfilled cache scan as a query
    // stage, in one job over all of its partitions, before the stages
    // that read it
    assert(jobsOf { got = answer(r) } == jobs1 + 1)
    assert(got == want)
    assert(filledRdd(r).isDefined)
    assert(jobsOf { got = answer(r) } == jobs1, "a filled cache is not filled again")
    assert(got == want)
  }

  test("the fill is uncompressed and spark.conf is unchanged") {
    val f = write(freshDir("tierconf").resolve("t.csv"), rows(20000)).toString
    val before = spark.conf.getAll
    val r = CsvSource.read(spark, f)
    CsvSource.read(spark, f)
    scan(r)
    assert(spark.conf.getAll == before)
    val owned = filledRdd(r).get
    // the same rows cached the default way, compressed
    val c = r.filter(col("id") > 0).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      c.count()
      val compressed = filledRdd(c).get
      def size(id: Int) = spark.sparkContext.getRDDStorageInfo.find(_.id == id).get.memSize
      assert(size(owned) > size(compressed) * 5 / 4,
        s"uncompressed ${size(owned)} B vs compressed ${size(compressed)} B")
    } finally c.unpersist(blocking = true)
  }

  /** A rewrite of the file at `f` (given its old text) never returns
    * the old version's rows, and releases its cache. */
  private def rewriteReleases(name: String)(rewrite: (Path, String) => Unit): Unit = {
    val text = rows(3000)
    val f = write(freshDir(name).resolve("t.csv"), text)
    val old = CsvSource.read(spark, f.toString)
    CsvSource.read(spark, f.toString)
    val oldRows = scan(old)
    val oldRdd = filledRdd(old).get
    assert(persisted(oldRdd))
    rewrite(f, text)
    val fresh = CsvSource.read(spark, f.toString)
    assert(!persisted(oldRdd), s"$name: the old version's blocks are released")
    assert(cached(fresh).isEmpty, s"$name: no cache matches the new version")
    val want = scan(spark.read.option("header", "true").csv(f.toString).select(
      col("id").cast("long"), col("k"), col("amt").try_cast("double").as("amt"))
      .filter(col("amt") > 50).select("id", "k", "amt"))
    assert(want != oldRows, s"$name: the rewrite must change the answer")
    assert(scan(fresh) == want, s"$name: first read of the new version")
    CsvSource.read(spark, f.toString)
    assert(scan(fresh) == want, s"$name: the filling read of the new version")
    assert(scan(CsvSource.read(spark, f.toString)) == want, s"$name: the cached new version")
  }

  test("a same-size in-place rewrite never returns cached rows") {
    rewriteReleases("tiersame") { (f, text) =>
      val (len, t0) = (Files.size(f), Files.getLastModifiedTime(f))
      Files.writeString(f, text.map { case 'A' => 'B'; case 'B' => 'A'; case c => c })
      Files.setLastModifiedTime(f, FileTime.fromMillis(t0.toMillis + 1000))
      assert(Files.size(f) == len, "the rewrite must keep the size")
    }
  }

  test("a rewrite to a different size never returns cached rows") {
    rewriteReleases("tiersize") { (f, text) =>
      val len = Files.size(f)
      Files.writeString(f, rows(3000, salt = 5))
      assert(Files.size(f) != len)
    }
  }

  test("a replace by rename never returns cached rows") {
    rewriteReleases("tierrename") { (f, text) =>
      val tmp = Files.writeString(f.resolveSibling("t.csv.tmp"), rows(3000, salt = 5))
      Files.setLastModifiedTime(tmp, Files.getLastModifiedTime(f))
      Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  test("concurrent second reads persist once") {
    val pool = Executors.newFixedThreadPool(4)
    try (1 to 5).foreach { round =>
      val f = write(freshDir(s"tierrace$round").resolve("t.csv"), rows(500)).toString
      val df = CsvSource.read(spark, f)
      val (entries, owned) = (CachedPlans(spark), Materialize.ownedCount)
      val go = new CountDownLatch(1)
      val reads = (1 to 4).map(_ => pool.submit(() => { go.await(); CsvSource.read(spark, f) }))
      go.countDown()
      reads.foreach(r => assert(r.get(30, TimeUnit.SECONDS) eq df))
      assert(Materialize.ownedCount == owned + 1, s"round $round: one persist")
      assert(CachedPlans(spark) == entries + 1, s"round $round")
    } finally pool.shutdown()
  }

  test("a path with no local file stamp, or a directory, is never cached") {
    val dir = freshDir("tierstamp")
    val f = write(dir.resolve("t.csv"), rows(500))
    val uri = f.toUri.toString // file:/… does not stat as a local path
    assert(RelationCache.stamp(uri) == ((0L, 0L)))
    val parts = Files.createDirectory(dir.resolve("parts.csv"))
    write(parts.resolve("a.csv"), rows(300))
    write(parts.resolve("b.csv"), rows(200, salt = 1))
    val entries = CachedPlans(spark)
    for (p <- Seq(uri, parts.toString); _ <- 1 to 3) {
      val df = CsvSource.read(spark, p)
      assert(scan(df).nonEmpty)
      assert(cached(df).isEmpty, p)
    }
    assert(CachedPlans(spark) == entries)
  }

  test("relationCache.enabled=false releases the tier and caches nothing") {
    val f = write(freshDir("tieroff").resolve("t.csv"), rows(500)).toString
    val df = CsvSource.read(spark, f)
    CsvSource.read(spark, f)
    assert(cached(df).isDefined)
    val key = "spark.graft.relationCache.enabled"
    spark.conf.set(key, "false")
    try {
      (1 to 3).foreach { _ =>
        val off = CsvSource.read(spark, f)
        assert(cached(off).isEmpty && cached(df).isEmpty)
      }
    } finally spark.conf.unset(key)
  }

  test("dialect semantics hold on the first, filling and cached reads") {
    // small splits: the file scans as many partitions, so keep-first
    // distinct, last-write and inc() depend on the cached partitions'
    // order
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "65536")
    try Seq(
      "select distinct note, id, k from t.csv",
      "select distinct k, id, amt from t.csv where amt > 10",
      "select k, note, d from t.csv group by k",
      "select inc() as n, id from t.csv where id > 19900",
      "select a.k, count(b.id) as n from t.csv a inner join _f1 b on a.id = b.id group by a.k",
      "select * from t.csv where id > 19900"
    ).zipWithIndex.foreach { case (stmt, i) =>
      val dir = freshDir(s"tiersem$i")
      val f = write(dir.resolve("t.csv"), rows(20000)).toString
      def run(): Seq[Row] = GraftSession(spark, dir.toString).sql(stmt).collect().toSeq
      val first = run()
      assert(first.nonEmpty, stmt)
      val filling = run()
      assert(cached(CsvSource.read(spark, f)).isDefined, stmt)
      assert(filling == first, s"the filling read: $stmt")
      assert(run() == first, s"a cached read: $stmt")
    } finally spark.conf.unset(key)
  }

  test("the last statement's rows hold nulls and parse failures as CsvCell makes them") {
    val f = write(freshDir("tiernull").resolve("t.csv"), rows(20000)).toString
    def tail(df: DataFrame) = df.filter(col("id") > 19900).orderBy("id").collect().toSeq
    val first = tail(CsvSource.read(spark, f))
    assert(first.exists(_.isNullAt(3)) && first.exists(_.isNullAt(4)), "a bad cell and NA")
    assert(tail(CsvSource.read(spark, f)) == first)
    assert(tail(CsvSource.read(spark, f)) == first)
  }
}
