package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.IvfIndex

/** Property pins for the round-14 gather rework: the wave-chunked
  * pushed gather (every batch size now gets pushed point reads — the
  * r13 broadcast-join fallback above 1024 ids is gone), the per-cell
  * pushed-vs-full flip off the sidecar's occupancy counts, the
  * bounded-wave overflow flip, and the latency path's driver job
  * budget (the threaded cap-check count drops servePq's own
  * queries.count()). */
class R14OpsSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf0001, "embeddings")
    .select(col("vec_id"), col("embedding"))

  private val path = s"$suiteDir/r14_gather"
  private lazy val fixture: IvfIndex.Sidecar = {
    IvfIndex.build(emb, path, pq = true)
    IvfIndex.readSidecar(spark, path).get
  }

  private def batch(mod: Int, rem: Int) = emb.filter(col("vec_id") % mod === rem)
    .select((col("vec_id") + lit(1000000L)).as("q_id"),
      col("embedding").as("q_emb"))

  private def panelOf(q: org.apache.spark.sql.DataFrame) =
    q.select(col("q_id"), col("q_emb"),
      graft.functions.VectorExprs.nearest_centroid(
        col("q_emb"), fixture.refresh, fixture.dim).as("cell"))

  private def collectServe(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getLong(3))).sorted.toSeq

  test("wave-chunked pushed gather ≡ single-plan pushed ≡ broadcast fallback") {
    // past one plan's term budget the winner set is split into
    // sequential ≤maxIdsPerWave waves — same rows, same cosines, same
    // ranks as both the single-plan pushed shape and the broadcast
    // fallback (here forced with a tiny wave size so sf0.001 chunks)
    val q = batch(3, 1)
    val panel = panelOf(q)
    val idxFull = IvfIndex.readFull(spark, path)
    def run(maxIdsPerWave: Int, pushMax: Long) = collectServe(
      IvfIndex.servePq(idxFull, q, panel, 5, 20, fixture.serving,
        fixture.books, pushMax = pushMax, maxIdsPerWave = maxIdsPerWave))
    val single = run(Int.MaxValue, Long.MaxValue)
    val waved = run(16, Long.MaxValue)
    val fallback = run(IvfIndex.PqGatherPushMaxIds, 0L)
    assert(single.nonEmpty && single == fallback,
      "single-plan pushed gather must equal the broadcast fallback")
    assert(waved == single,
      "the wave-chunked gather must be bit-identical to the single plan")
  }

  test("per-cell flip: honest tiny-cell occupancy chooses full scans, same results") {
    // sf0.001 cells are ~125 rows ≈ 2 pages — per-id pushes read the
    // same pages as the full scan with plan overhead on top, so the
    // gather must choose full scans with the real counts (since r15
    // the SATURATION SKIP reaches that conclusion from the checkpoint
    // job's free estimate before the per-cell flip even runs —
    // R15OpsSpec pins the mixed-occupancy flip separately); either
    // way it is a plan choice, never a result change
    val q = batch(7, 2)
    val panel = panelOf(q)
    val idxFull = IvfIndex.readFull(spark, path)
    val flipped = IvfIndex.servePq(idxFull, q, panel, 5, 20,
      fixture.serving, fixture.books, cellRows = fixture.counts)
    val p = flipped.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("EqualTo(vec_id") && !p.contains("In(vec_id"),
      s"tiny cells must flip to full-cell scans:\n" +
        p.split("\n").filter(_.contains("PushedFilters")).mkString("\n"))
    val pushed = IvfIndex.servePq(idxFull, q, panel, 5, 20,
      fixture.serving, fixture.books) // no counts -> everything pushed
    assert(collectServe(flipped) == collectServe(pushed),
      "the per-cell flip must never change serving results")
  }

  test("wave-count overflow flips the largest cells to full scans, same results") {
    val q = batch(3, 0)
    val panel = panelOf(q)
    val idxFull = IvfIndex.readFull(spark, path)
    // 2 waves × 8 ids = 16 pushed ids max — far under the winner set,
    // so most cells must overflow to the full-scan leg
    val overflowed = IvfIndex.servePq(idxFull, q, panel, 5, 20,
      fixture.serving, fixture.books, maxIdsPerWave = 8, maxWaves = 2)
    val plain = IvfIndex.servePq(idxFull, q, panel, 5, 20,
      fixture.serving, fixture.books)
    assert(collectServe(overflowed) == collectServe(plain),
      "overflow-to-full must never change serving results")
  }

  test("latency path: the threaded cap-check count drops a gather-construction job") {
    // the threaded cap-check count (knownBatchRows) lets the gather
    // gate collect the whole bounded shortlist in one job — pairs AND
    // the winner set off one array, no checkpoint, no distinct job
    // (and the r13 shape additionally ran queries.count() per call).
    val q = batch(11, 3).localCheckpoint(true)
    val panel = panelOf(q).localCheckpoint(true)
    val idxFull = IvfIndex.readFull(spark, path)
    val n = q.count()
    // AQE and broadcast materialization contribute their own jobs to
    // any collect, so the pin is RELATIVE: the same gather on the
    // same inputs, with vs without the threaded count — the threaded
    // path must save at least one driver job (it collects pairs +
    // winners in ONE job and skips the checkpoint), and the results
    // must be identical
    var threaded, unthreaded: org.apache.spark.sql.DataFrame = null
    val jobsThreaded = jobsDuring {
      threaded = IvfIndex.servePq(idxFull, q, panel, 5, 20,
        fixture.serving, fixture.books, knownBatchRows = Some(n))
    }
    val jobsUnthreaded = jobsDuring {
      unthreaded = IvfIndex.servePq(idxFull, q, panel, 5, 20,
        fixture.serving, fixture.books)
    }
    assert(jobsThreaded < jobsUnthreaded,
      s"the threaded count must drop ≥1 gather-construction job " +
        s"($jobsThreaded vs $jobsUnthreaded)")
    assert(collectServe(threaded) == collectServe(unthreaded),
      "the job saving must not change serving results")
    assert(collectServe(threaded).nonEmpty)
  }

  test("servePq leaves the session conf exactly as it found it") {
    // the gather raises parquet's In-pushdown threshold to the wave
    // size while its eager waves scan (16 > the default 10 here); set
    // or unset beforehand, the session must read the same afterwards
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val q = batch(3, 1)
    val panel = panelOf(q)
    val idxFull = IvfIndex.readFull(spark, path)
    def serve() = collectServe(IvfIndex.servePq(idxFull, q, panel, 5, 20,
      fixture.serving, fixture.books, maxIdsPerWave = 16))
    spark.conf.unset(key)
    val before = spark.conf.getAll
    assert(serve().nonEmpty)
    assert(spark.conf.getAll == before, "an unset threshold must stay unset")
    spark.conf.set(key, "12")
    try {
      serve()
      assert(spark.conf.get(key) == "12", "a set threshold must be restored")
    } finally spark.conf.unset(key)
  }

  test("empty query batch serves an empty frame without re-evaluating anything") {
    val q = batch(3, 1).filter(lit(false))
    val panel = panelOf(q)
    val idxFull = IvfIndex.readFull(spark, path)
    val served = IvfIndex.servePq(idxFull, q, panel, 5, 20,
      fixture.serving, fixture.books)
    assert(served.collect().isEmpty)
    assert(served.columns.toSeq == Seq("q_id", "n_id", "sim", "rank"))
  }

  test("wave-count bound: construction jobs stay within maxWaves + constant") {
    // the ids-budget flip bounds TOTAL pushed ids, and the repack loop
    // bounds the WAVE COUNT (next-fit alone can fragment to ~2x) — pin
    // it by counting driver jobs during gather construction with a
    // tiny wave size: at maxWaves=2 the pushed path may run at most
    // 2 wave jobs + the probed/checkpoint/winners constant, however
    // many winner ids exist
    val q = batch(3, 2)
    val panel = panelOf(q)
    val idxFull = IvfIndex.readFull(spark, path)
    var served: org.apache.spark.sql.DataFrame = null
    val construction = jobsDuring {
      served = IvfIndex.servePq(idxFull, q, panel, 5, 20,
        fixture.serving, fixture.books, maxIdsPerWave = 8, maxWaves = 2)
    }
    // probed collect + shortlist ckpt + winners collect + <=2 waves,
    // plus AQE/broadcast sub-jobs — generous but FAR below the
    // unbounded-fragmentation count (the winner set here packs to
    // dozens of 8-id waves without the repack bound)
    assert(construction <= 12,
      s"construction must honor the wave bound, ran $construction jobs")
    val plain = IvfIndex.servePq(idxFull, q, panel, 5, 20,
      fixture.serving, fixture.books)
    assert(collectServe(served) == collectServe(plain),
      "the wave bound must never change results")
  }

  test("sidecar CAS: a stale concurrent writer is refused loudly, never merged") {
    // every maintenance op reads version v and commits v+1 under a
    // version-NAMED header with rename-without-overwrite — two writers
    // that both read v race for centers.v{v+1} and exactly ONE wins;
    // the loser must fail loudly BEFORE its data files land (sidecar-
    // first commit order), not last-write-wins away the winner's
    // bookkeeping
    val p = s"$suiteDir/r14_cas"
    IvfIndex.build(emb, p)
    val s0 = IvfIndex.readSidecar(spark, p).get
    // writer A commits v+1
    IvfIndex.writeSidecar(spark, p, s0.copy(version = s0.version + 1L,
      maxSeq = s0.maxSeq + 1L, pendingAppends = true))
    // writer B, still holding the v-generation sidecar, tries the same
    val err = intercept[java.util.ConcurrentModificationException] {
      IvfIndex.writeSidecar(spark, p, s0.copy(version = s0.version + 1L,
        maxSeq = s0.maxSeq + 1L, pendingAppends = true))
    }
    assert(err.getMessage.contains("concurrent writer"))
    // A's commit is intact — B corrupted nothing
    val after = IvfIndex.readSidecar(spark, p).get
    assert(after.version == s0.version + 1L && after.pendingAppends)
    // a writer that RE-READS proceeds normally: compact then two
    // sequential appends land at distinct seqs
    IvfIndex.compact(spark, p)
    val healed = IvfIndex.readSidecar(spark, p).get
    def freshBatch(off: Long) = emb.limit(10)
      .select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"))
    val seqA = IvfIndex.append(spark, p,
      VectorQueries.kmeansAssign(freshBatch(5000000L), healed.serving))
    val seqB = IvfIndex.append(spark, p,
      VectorQueries.kmeansAssign(freshBatch(6000000L), healed.serving))
    assert(seqA != seqB, "sequential appends must land at distinct seqs")
  }

  test("sidecar sharding: a large-k sidecar round-trips bit-exact across shards") {
    val p = s"$suiteDir/r14_shards"
    // wipe any previous run (writeSidecar CAS would refuse version 1)
    val d = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.isDirectory(d)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    IvfIndex.SidecarCache.invalidate(p)
    val rnd = new java.util.Random(14L)
    val k = 9000 // > SidecarShardCells -> 3 shard files
    val dim = 8
    def vec() = Array.fill(dim)(rnd.nextDouble())
    val serving = (0 until k).map(c => c -> vec())
    val refresh = (0 until k by 2).map(c => c -> vec()) // holes allowed
    val books = Seq((0 until 16).map(c => c -> vec()).toSeq)
    val sc = IvfIndex.Sidecar(serving, refresh,
      counts = (0 until k).map(c => c.toLong -> (c * 3L + 1L)).toMap,
      staleCells = Set(7L, 4096L, 8999L),
      pendingAppends = true, maxSeq = 42L, version = 1L,
      books = books, compactedSeq = 17L)
    IvfIndex.writeSidecar(spark, p, sc)
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(
        java.nio.file.Paths.get(p, IvfIndex.SidecarDir))
      .iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    assert(files.count(_.startsWith("cells-")) == 3,
      s"9000 cells must shard into 3 files, got: $files")
    val back = IvfIndex.readSidecar(spark, p).get
    assert(back.serving.map(_._1) == sc.serving.map(_._1))
    assert(back.serving.zip(sc.serving).forall {
      case ((_, a), (_, b)) => a.sameElements(b) }, "serving bits must round-trip")
    assert(back.refresh.zip(sc.refresh).forall {
      case ((_, a), (_, b)) => a.sameElements(b) }, "refresh bits must round-trip")
    assert(back.counts == sc.counts && back.staleCells == sc.staleCells)
    assert(back.pendingAppends && back.maxSeq == 42L &&
      back.version == 1L && back.compactedSeq == 17L)
    assert(back.books.head.zip(sc.books.head).forall {
      case ((_, a), (_, b)) => a.sameElements(b) }, "PQ books must round-trip")
    // a second generation retires versions two behind (v1 survives v2,
    // dies at v3), shards included
    IvfIndex.writeSidecar(spark, p, sc.copy(version = 2L))
    IvfIndex.writeSidecar(spark, p, sc.copy(version = 3L))
    val after = java.nio.file.Files.list(
        java.nio.file.Paths.get(p, IvfIndex.SidecarDir))
      .iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    assert(!after.contains("centers.v1") && after.contains("centers.v2") &&
      after.contains("centers.v3"), s"retention must keep one prior generation: $after")
    assert(after.count(_.startsWith("cells-")) == 6,
      s"retired versions' shards must be deleted too: $after")
  }

  test("a legacy pre-CAS centers.v1 (stale version field) upgrades cleanly") {
    // pre-r14 sidecars were always NAMED centers.v1 while the version
    // FIELD kept counting — the reader must trust the field, and the
    // next writer must commit under the field+1 name so the new file
    // out-versions the legacy one
    val p = s"$suiteDir/r14_legacyname"
    IvfIndex.build(emb, p)
    val s = IvfIndex.readSidecar(spark, p).get
    val dir = java.nio.file.Paths.get(p, IvfIndex.SidecarDir)
    import scala.jdk.CollectionConverters._
    // rewrite the header in place with version=5 under the v1 name
    val f = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("centers.v")).toSeq.head
    val text = new String(java.nio.file.Files.readAllBytes(f))
      .replace("version=1", "version=5")
    java.nio.file.Files.deleteIfExists(f)
    java.nio.file.Files.write(dir.resolve("centers.v1"), text.getBytes)
    // the raw rewrite bypassed Hadoop's checksummed local FS — drop
    // the stale .crc sidecars or the read sees a checksum mismatch
    java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".crc")).toSeq
      .foreach(java.nio.file.Files.delete)
    IvfIndex.SidecarCache.invalidate(p)
    val legacy = IvfIndex.readSidecar(spark, p).get
    assert(legacy.version == 5L, "the version FIELD is the authority")
    IvfIndex.writeSidecar(spark, p, legacy.copy(version = 6L))
    val names = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(names.contains("centers.v6"))
    // retention keeps the two newest versions PRESENT — the legacy v1
    // header (semantically the previous generation despite its name)
    // must survive the upgrade commit for in-flight readers
    assert(names.contains("centers.v1"),
      s"the legacy header is the previous generation and must survive: $names")
    assert(IvfIndex.readSidecar(spark, p).get.version == 6L)
    assert(legacy.serving.map(_._1) == s.serving.map(_._1))
  }
}
