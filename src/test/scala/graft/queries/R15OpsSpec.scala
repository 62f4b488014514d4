package graft.queries

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.IvfIndex

/** Property pins for the round-15 concurrency hardening of the
  * sidecar CAS:
  *  - retention must never sweep a FUTURE-version shard file (a
  *    concurrent writer's commit in flight — its shards land before
  *    its header CAS), only aged ones (crashed writers) and retired
  *    committed generations;
  *  - a reader resolving DURING a sharded commit sees wholly the old
  *    generation or wholly the new one — never a mix — and a
  *    committed header whose shards vanish fails LOUDLY after the
  *    bounded re-resolve, never returning partial cells.
  */
class R15OpsSpec extends SparkSpec {

  private def fs(path: String) =
    new HPath(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def wipe(p: String): Unit = {
    val d = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.isDirectory(d)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
  }

  private def plant(path: String, name: String,
      ageMs: Long = 0L): HPath = {
    val f = fs(path)
    val p = new HPath(path + "/" + IvfIndex.SidecarDir, name)
    val out = f.create(p, true)
    try out.write("x".getBytes) finally out.close()
    if (ageMs > 0)
      f.setTimes(p, System.currentTimeMillis() - ageMs, -1)
    p
  }

  private def tinySidecar(version: Long, mark: Double) = IvfIndex.Sidecar(
    serving = Seq(0 -> Array(1.0, mark)),
    refresh = Seq(0 -> Array(1.0, mark)),
    counts = Map(0L -> 1L), staleCells = Set.empty,
    pendingAppends = false, maxSeq = 0L, version = version)

  test("retention keeps an in-flight writer's future-version shards") {
    // the ADVICE r14 race: writer B (read version N) lands its
    // cells-*.v{N+1} shards, then writer A's commit of version N runs
    // retention — the old rule deleted any shard version outside the
    // two newest COMMITTED generations, which includes B's in-flight
    // N+1; B's header CAS then succeeded against deleted shards,
    // leaving the index unreadable. New rule: a shard version PAST
    // the max committed header survives unless aged (crashed-writer
    // sweep), and committed-but-retired versions still retire.
    val path = s"$suiteDir/r15_retention"
    wipe(path)
    val f = fs(path)
    IvfIndex.writeSidecar(spark, path, tinySidecar(1L, 1.0))
    // in-flight concurrent writer: fresh shards for a FUTURE version
    val inflight = plant(path, "cells-0.aaaaaaaa.v4")
    // crashed writer: future-version shards older than the 1h guard
    val crashed = plant(path, "cells-0.bbbbbbbb.v9", ageMs = 2 * 3600 * 1000L)
    // old-generation shard: version 1 stays kept after v2 (two newest)
    val gen1 = plant(path, "cells-0.cccccccc.v1")
    IvfIndex.writeSidecar(spark, path, tinySidecar(2L, 2.0))
    assert(f.exists(inflight),
      "a fresh future-version shard is an in-flight commit — retention must keep it")
    assert(!f.exists(crashed),
      "an AGED future-version shard is a crashed writer's orphan — swept")
    assert(f.exists(gen1), "v1 is still among the two newest committed")
    // one more commit retires generation 1 entirely
    IvfIndex.writeSidecar(spark, path, tinySidecar(3L, 3.0))
    assert(!f.exists(gen1),
      "a retired committed generation's shards must be swept")
    assert(f.exists(inflight),
      "the in-flight shard (v4 > max committed 3) must still survive")
    assert(IvfIndex.readSidecar(spark, path).get.serving.head._2(1) == 3.0)
  }

  test("reader during a sharded commit sees wholly-old or wholly-new, never a mix") {
    // two sharded sidecars (>SidecarShardCells cells) with
    // distinguishable values; v2's files are copied into the index
    // dir in the commit's own order (shards first, header last) with
    // a read at every interleaving point.
    val k = 5000 // > SidecarShardCells (4096) -> 2 binary shard files
    def bigSidecar(version: Long, mark: Double) = IvfIndex.Sidecar(
      serving = (0 until k).map(c => c -> Array(c.toDouble, mark)),
      refresh = (0 until k).map(c => c -> Array(c.toDouble, mark)),
      counts = (0 until k).map(c => c.toLong -> 1L).toMap,
      staleCells = Set.empty, pendingAppends = false, maxSeq = 0L,
      version = version)
    val path = s"$suiteDir/r15_wholeness"
    val stage = s"$suiteDir/r15_wholeness_stage"
    wipe(path); wipe(stage)
    IvfIndex.writeSidecar(spark, path, bigSidecar(1L, 1.0))
    // stage version 2 in a scratch dir (same writer code path), then
    // replay its files into the live dir in commit order
    IvfIndex.writeSidecar(spark, stage, bigSidecar(2L, 2.0))
    val f = fs(path)
    val stageDir = new HPath(stage, IvfIndex.SidecarDir)
    val liveDir = new HPath(path, IvfIndex.SidecarDir)
    val staged = f.listStatus(stageDir).map(_.getPath.getName).sorted
    val v2shards = staged.filter(_.startsWith("cells-")).filter(_.endsWith(".v2"))
    val v2header = staged.find(_ == "centers.v2").get
    assert(v2shards.length == 2, s"expected 2 shards, got ${v2shards.toSeq}")
    def copyIn(name: String): Unit =
      org.apache.hadoop.fs.FileUtil.copy(f, new HPath(stageDir, name),
        f, new HPath(liveDir, name), false,
        spark.sessionState.newHadoopConf())
    def marks(): Set[Double] = {
      val sc = IvfIndex.readSidecar(spark, path).get
      assert(sc.serving.length == k, "reads must always be whole")
      sc.serving.map(_._2(1)).toSet
    }
    // shards half-landed: still wholly v1
    copyIn(v2shards(0))
    assert(marks() == Set(1.0), "half-written v2 shards must stay invisible")
    // all shards landed, header not yet: still wholly v1
    copyIn(v2shards(1))
    assert(marks() == Set(1.0), "uncommitted v2 shards must stay invisible")
    // header CAS lands: wholly v2, never a v1/v2 mix
    copyIn(v2header)
    assert(marks() == Set(2.0), "a committed header must resolve its own shards")
    // a committed header whose shard vanishes (over-eager retention /
    // manual damage) must fail LOUDLY after the bounded re-resolve —
    // never return partial cells or silently fall back to v1
    f.delete(new HPath(liveDir, v2shards(1)), false)
    val err = intercept[IllegalStateException] {
      IvfIndex.readSidecar(spark, path)
    }
    assert(err.getMessage.contains("vanish"),
      s"expected the loud vanish-retry diagnostic, got: ${err.getMessage}")
  }

  // ---- round-15 serving trims: the saturation skip (VERDICT ask #3)
  // and the wave gather pool (ask #6 sanity; SCALE_r15 times it) ----

  private lazy val emb = Tables(spark, sf0001, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private val gatherPath = s"$suiteDir/r15_gather"
  private lazy val gatherFixture: IvfIndex.Sidecar = {
    IvfIndex.build(emb, gatherPath, pq = true)
    IvfIndex.readSidecar(spark, gatherPath).get
  }

  private def batch(mod: Int, rem: Int) =
    emb.filter(col("vec_id") % mod === rem)
      .select((col("vec_id") + lit(1000000L)).as("q_id"),
        col("embedding").as("q_emb"))

  private def panelOf(q: org.apache.spark.sql.DataFrame) =
    q.select(col("q_id"), col("q_emb"),
      graft.functions.VectorExprs.nearest_centroid(
        col("q_emb"), gatherFixture.refresh, gatherFixture.dim).as("cell"))

  private def collectServe(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getLong(3))).sorted.toSeq

  test("a saturated batch skips the winner-analysis job, identical results") {
    // sf0.001 cells are ~2 pages, so a shortlist-20 batch's winners
    // rival every probed cell's pages — the checkpoint job's FREE
    // cardinality estimate (observed HLL) proves saturation and the
    // exact (cell, n_id) DISTINCT shuffle is skipped outright; the
    // gather is the full probed-cell pass the per-cell flip would
    // have chosen for every cell anyway. Pin: ≥1 fewer driver job
    // than the analysis path on identical inputs, identical rows.
    val q = batch(61, 5).localCheckpoint(true)
    val panel = panelOf(q).localCheckpoint(true)
    val idxFull = IvfIndex.readFull(spark, gatherPath)
    var skippedRows, analyzedRows: Seq[(Long, Long, Double, Long)] = Nil
    // honest tiny-cell occupancy -> the estimate proves saturation
    val jobsSkipped = jobsDuring {
      skippedRows = collectServe(IvfIndex.servePq(idxFull, q, panel, 5, 20,
        gatherFixture.serving, gatherFixture.books,
        cellRows = gatherFixture.counts))
    }
    // occupancy withheld -> probedPages = 0, the estimate stays far
    // under the push cap -> the exact winner analysis runs (and the
    // winner set pushes; R14OpsSpec pins pushed ≡ fallback)
    val jobsAnalyzed = jobsDuring {
      analyzedRows = collectServe(IvfIndex.servePq(idxFull, q, panel, 5, 20,
        gatherFixture.serving, gatherFixture.books))
    }
    assert(jobsSkipped < jobsAnalyzed,
      s"the saturation skip must drop ≥1 analysis job " +
        s"($jobsSkipped vs $jobsAnalyzed)")
    assert(skippedRows.nonEmpty && skippedRows == analyzedRows,
      "the saturation skip must never change serving results")
  }

  test("per-cell flip mixes pushed and full branches under skewed occupancy") {
    // the honest tiny-cell fixture now saturates (above), so the
    // per-cell decision needs a skewed synthetic occupancy to stay
    // exercised: most probed cells HUGE (per-id pushes skip pages),
    // one tiny (full scan is cheaper) — probedPages is then enormous,
    // the estimate stays under the 4·pages margin, the exact analysis
    // runs, and the flip decides PER CELL: the plan carries pushed
    // vec_id equalities for the huge cells while the tiny cell rides
    // the full-scan leg, and the results match the all-pushed serve.
    val q = batch(61, 7)
    val panel = panelOf(q)
    val idxFull = IvfIndex.readFull(spark, gatherPath)
    val probed = panel.select(col("cell")).distinct().collect()
      .map(_.get(0).asInstanceOf[Number].longValue()).sorted
    assert(probed.length >= 2, "need ≥2 probed cells for a mixed flip")
    val tiny = probed.head
    val counts = probed.map(c =>
      c -> (if (c == tiny) 1L else 10000000L)).toMap
    val mixed = IvfIndex.servePq(idxFull, q, panel, 5, 20,
      gatherFixture.serving, gatherFixture.books, cellRows = counts)
    val p = mixed.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("In(vec_id"),
      "huge cells must keep pushed per-id branches")
    val pushedAll = IvfIndex.servePq(idxFull, q, panel, 5, 20,
      gatherFixture.serving, gatherFixture.books)
    assert(collectServe(mixed) == collectServe(pushedAll),
      "a mixed per-cell flip must never change serving results")
  }

  test("sequential wave pool serves identically to the concurrent pool") {
    // waves bound PLAN size; the pool only overlaps their submission.
    // SCALE_r15 records the wall evidence (concurrent ≈ max(wave));
    // this pins that the pool size is pure scheduling, never results.
    val q = batch(3, 1)
    val panel = panelOf(q)
    val idxFull = IvfIndex.readFull(spark, gatherPath)
    def run(poolSize: Int) = collectServe(
      IvfIndex.servePq(idxFull, q, panel, 5, 20, gatherFixture.serving,
        gatherFixture.books, maxIdsPerWave = 16, gatherPool = poolSize))
    val sequential = run(1)
    val concurrent = run(8)
    assert(sequential.nonEmpty && sequential == concurrent,
      "gather pool size must not change serving results")
  }
}
