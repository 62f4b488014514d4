package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.IvfIndex

/** Property pins for the round-13 lifecycle hardening: the legacy-
  * layout sidecar backfill (serve warns loudly on the fallback path,
  * `compact` restores zero-scan routing), the sidecar-first append
  * crash contract (a burned seq degrades to a compact-fixable state,
  * never a silently-wrong one), seq preservation through maintenance
  * rewrites, the compactedSeq watermark across append/compact
  * generations, the bounded-file-count ingest loop
  * ([[IvfIndex.appendAndMaintain]]), and the PQ re-rank gather's
  * pushed-ids path ≡ its broadcast-join fallback. */
class R13OpsSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf0001, "embeddings")
    .select(col("vec_id"), col("embedding"))

  private def negated(e: org.apache.spark.sql.DataFrame) =
    e.select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"))

  private def deleteSidecar(path: String): Unit = {
    val dir = java.nio.file.Paths.get(path, IvfIndex.SidecarDir)
    if (java.nio.file.Files.isDirectory(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    IvfIndex.SidecarCache.invalidate(path)
  }

  test("legacy layout: serve warns on the fallback, compact backfills, warning gone") {
    import graft.sql.GraftSession
    val g = GraftSession(spark, sf0001)
    val path = s"$suiteDir/r13_legacy"
    g.sql(s"index vec_id, embedding from embeddings into '$path'")
    val qb = s"$suiteDir/r13_legacy_q"
    emb.filter(col("vec_id") % 17 === 5)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(qb)
    val stmt = s"serve vec_id, embedding from '$path' query '$qb' top 5"
    def run(): Seq[(Long, Long, Long)] = g.sql(stmt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    val routed = run()
    // strip the sidecar — the pre-r11 layout a user might still have
    deleteSidecar(path)
    graft.sql.Planner.lastWarning.set("")
    val legacy = run()
    val warn = graft.sql.Planner.lastWarning.get()
    assert(warn.contains("no _centers sidecar") && warn.contains("compact"),
      s"the O(index)-per-batch fallback must warn and name the fix, got: '$warn'")
    assert(legacy == routed,
      "fallback routing must serve the same neighbors (refresh means ≡ index means)")
    // the one-shot fix: compact backfills the sidecar for legacy layouts
    g.sql(s"compact '$path'")
    assert(IvfIndex.readSidecar(spark, path).isDefined,
      "compact must backfill a _centers sidecar for a legacy layout")
    graft.sql.Planner.lastWarning.set("")
    val healed = run()
    assert(graft.sql.Planner.lastWarning.get().isEmpty,
      "after the backfill, serve must be sidecar-routed again (no warning)")
    assert(healed == routed)
  }

  test("a sidecar-first append crash state burns the seq, compact restores it") {
    // append's commit order is sidecar FIRST (pendingAppends=true,
    // bumped maxSeq), data files second — a crash between the two must
    // degrade to a compact-fixable state where reads stay exact, never
    // to superseded rows served as current (the reverse order's
    // failure mode, ADVICE r12)
    val path = s"$suiteDir/r13_crash"
    IvfIndex.build(emb, path)
    val base = IvfIndex.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    val side = IvfIndex.readSidecar(spark, path).get
    // simulate the crash: the sidecar landed, the data files never did
    IvfIndex.writeSidecar(spark, path, side.copy(
      pendingAppends = true, maxSeq = side.maxSeq + 1L,
      version = side.version + 1L))
    // reads are still exact (there are no appended rows to resolve)
    val crashed = IvfIndex.readLatest(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(crashed == base)
    // serve refuses the pending-appends state instead of guessing
    import graft.sql.GraftSession
    val g = GraftSession(spark, sf0001)
    val err = intercept[RuntimeException] {
      g.sql(s"serve vec_id, embedding from '$path' top 5").collect()
    }
    assert(err.getMessage.contains("un-compacted appends"))
    // compact clears the flag; the burned seq is never reused
    IvfIndex.compact(spark, path)
    val healed = IvfIndex.readSidecar(spark, path).get
    assert(!healed.pendingAppends)
    assert(healed.maxSeq == side.maxSeq + 1L, "the crashed append's seq stays burned")
    assert(healed.compactedSeq == healed.maxSeq)
    val after = IvfIndex.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(after == base)
    // the next append lands ABOVE the burned value
    val fresh = emb.limit(20)
      .select((col("vec_id") + lit(2000000L)).as("vec_id"), col("embedding"))
    val got = IvfIndex.append(spark, path,
      VectorQueries.kmeansAssign(fresh, healed.serving))
    assert(got == side.maxSeq + 2L, s"burned seq must not be reused, got $got")
  }

  test("maintenance rewrites preserve survivors' seq (upsert ≡ compact contract)") {
    val path = s"$suiteDir/r13_seq_keep"
    val centers = IvfIndex.build(emb, path)
    // land a generation of appended rows at seq 1, then compact so the
    // files are duplicate-free but the rows KEEP their version
    val genA = emb.filter(col("vec_id") % 7 === 3)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
    IvfIndex.append(spark, path, VectorQueries.kmeansAssign(genA, centers))
    IvfIndex.compact(spark, path)
    val seqsBefore = IvfIndex.readFull(spark, path)
      .filter(col("vec_id") >= 1000000L)
      .select(col("vec_id"), col("seq")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seqsBefore.nonEmpty && seqsBefore.values.forall(_ == 1L),
      "compact must not reset appended survivors' seq")
    // upsert NEW ids built from genA's embeddings — they assign to the
    // SAME cells, so the rewrite passes over every genA row
    val genB = emb.filter(col("vec_id") % 7 === 3)
      .select((col("vec_id") + lit(3000000L)).as("vec_id"), col("embedding"))
    IvfIndex.upsert(spark, path, VectorQueries.kmeansAssign(genB, centers))
    val seqsAfter = IvfIndex.readFull(spark, path)
      .filter(col("vec_id") >= 1000000L && col("vec_id") < 2000000L)
      .select(col("vec_id"), col("seq")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seqsAfter == seqsBefore,
      "upsert must carry survivors' seq through the rewrite, not reset it")
  }

  test("compactedSeq watermark: scoped analysis stays exact across generations") {
    // two append/compact generations — the duplicate analysis of the
    // SECOND compact scopes to rows above the first's watermark, and
    // must still find every superseded copy (including ones stranded
    // in other cells by a cross-cell re-assign)
    val path = s"$suiteDir/r13_watermark"
    val centers = IvfIndex.build(emb, path)
    val n = IvfIndex.read(spark, path).count()
    val moved = emb.filter(col("vec_id") % 13 === 4)
    // gen 1: re-ingest with NEGATED embeddings — assigns cross-cell,
    // strands the seq-0 copies
    IvfIndex.append(spark, path,
      VectorQueries.kmeansAssign(negated(moved), centers))
    IvfIndex.compact(spark, path)
    val side1 = IvfIndex.readSidecar(spark, path).get
    assert(side1.compactedSeq == 1L && !side1.pendingAppends)
    assert(IvfIndex.read(spark, path).count() == n, "one row per id after gen 1")
    // gen 2: re-ingest the SAME ids back at their original embeddings
    // — moves them again, stranding the seq-1 copies
    IvfIndex.append(spark, path, VectorQueries.kmeansAssign(moved, centers))
    val expect = IvfIndex.readLatest(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    IvfIndex.compact(spark, path)
    val got = IvfIndex.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(got == expect, "scoped compact must resolve every superseded copy")
    assert(got.length == n.toInt, "one row per id after gen 2")
    // the re-ingested ids sit at their ORIGINAL cells again
    val home = VectorQueries.kmeansAssign(moved, centers).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(got.filter(p => home.exists(_._1 == p._1)) == home)
    val side2 = IvfIndex.readSidecar(spark, path).get
    assert(side2.compactedSeq == 2L && side2.compactedSeq == side2.maxSeq)
  }

  test("appendAndMaintain keeps per-cell file counts bounded across batches") {
    val path = s"$suiteDir/r13_maintain"
    val centers = IvfIndex.build(emb, path)
    val bound = 2
    var fired = 0
    val maxSeen = scala.collection.mutable.ArrayBuffer.empty[Int]
    (0 until 6).foreach { i =>
      val batch = emb.filter(col("vec_id") % 5 === 1)
        .select((col("vec_id") + lit((i + 1) * 1000000L)).as("vec_id"),
          col("embedding"))
      val compacted = IvfIndex.appendAndMaintain(spark, path,
        VectorQueries.kmeansAssign(batch, centers), maxFilesPerCell = bound)
      if (compacted.nonEmpty) fired += 1
      maxSeen += IvfIndex.cellFileCounts(spark, path).values.max
    }
    assert(fired >= 2, s"the bounded-file-count trigger must fire mid-loop, fired=$fired")
    assert(maxSeen.forall(_ <= bound),
      s"post-maintenance file counts must stay bounded, saw $maxSeen")
    // exactness through the whole loop: base ∪ every batch, one row each
    val total = IvfIndex.readLatest(spark, path).count()
    val batchN = emb.filter(col("vec_id") % 5 === 1).count()
    assert(total == emb.count() + 6 * batchN)
  }

  test("pq re-rank: the pushed-ids gather ≡ the broadcast-join fallback") {
    // the round-12 `weak` fix collects the bounded shortlist and pushes
    // its ids into the gather scan; above PqGatherPushMax it falls back
    // to the lazy broadcast-join shape — the two must return the SAME
    // neighbors, sims and ranks (same cosine over the same rows)
    val path = s"$suiteDir/r13_pushfall"
    IvfIndex.build(emb, path, pq = true)
    val side = IvfIndex.readSidecar(spark, path).get
    val q = emb.filter(col("vec_id") % 17 === 5)
      .select((col("vec_id") + lit(1000000L)).as("q_id"),
        col("embedding").as("q_emb"))
    val panel = q.select(col("q_id"), col("q_emb"),
      graft.functions.VectorExprs.nearest_centroid(
        col("q_emb"), side.refresh, side.dim).as("cell"))
    val idxFull = IvfIndex.readFull(spark, path)
    def run(pushMax: Long): Seq[(Long, Long, Double, Long)] =
      IvfIndex.servePq(idxFull, q, panel, 5, 20, side.serving, side.books,
          pushMax = pushMax)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sorted.toSeq
    val pushed = run(Long.MaxValue)
    val fallback = run(0L)
    assert(pushed.nonEmpty && pushed == fallback,
      "both gather shapes must produce identical serving results")
  }

  test("pq serving is id-type agnostic: an int-typed vec_id pushes without casts") {
    // the lifecycle never casts the user's id column, so the pushed
    // gather's driver-side extraction must not assume LongType — and
    // its equality literals must be cast to the COLUMN's type, since
    // a cast wrapped around the column would defeat parquet pushdown
    val path = s"$suiteDir/r13_intid"
    val intEmb = emb.select(col("vec_id").cast("int").as("vec_id"),
      col("embedding"))
    IvfIndex.build(intEmb, path, pq = true)
    val side = IvfIndex.readSidecar(spark, path).get
    val q = intEmb.filter(col("vec_id") % 17 === 5)
      .select((col("vec_id") + lit(100000)).cast("int").as("q_id"),
        col("embedding").as("q_emb"))
    val panel = q.select(col("q_id"), col("q_emb"),
      graft.functions.VectorExprs.nearest_centroid(
        col("q_emb"), side.refresh, side.dim).as("cell"))
    val idxFull = IvfIndex.readFull(spark, path)
    val served = IvfIndex.servePq(idxFull, q, panel, 5, 20,
      side.serving, side.books)
    val p = served.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val pushed = p.split("\n").filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("In(vec_id"),
      s"int-typed ids must still push as In filters:\n$pushed")
    val rows = served.collect()
    assert(rows.nonEmpty)
    // and ≡ the fallback gather on the same int-typed index
    val fallback = IvfIndex.servePq(idxFull, q, panel, 5, 20,
        side.serving, side.books, pushMax = 0L)
      .collect().map(r => (r.get(0), r.get(1), r.getLong(3))).toSeq.sorted(
        Ordering.by((t: (Any, Any, Long)) => t.toString))
    val got = rows.map(r => (r.get(0), r.get(1), r.getLong(3))).toSeq.sorted(
      Ordering.by((t: (Any, Any, Long)) => t.toString))
    assert(got == fallback)
  }

  test("backfillSidecar refuses a PQ layout (codebooks are unrecoverable)") {
    // writing books=empty instead would flip hasPq to false and invert
    // the ingest shape guard: encoded arrivals refused, code-less
    // arrivals accepted into a mixed-schema index
    val path = s"$suiteDir/r13_pq_backfill"
    IvfIndex.build(emb, path, pq = true)
    val dir = java.nio.file.Paths.get(path, IvfIndex.SidecarDir)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    IvfIndex.SidecarCache.invalidate(path)
    val err = intercept[IllegalStateException] {
      IvfIndex.backfillSidecar(spark, path)
    }
    assert(err.getMessage.contains("rebuild with"))
  }

  test("serve refuses a batch past the cap on both the exact and pq paths") {
    // the panel is the broadcast side of the pruned gather (and on the
    // pq path each row ships a ~1 KB LUT) — a corpus-sized "batch" must
    // fail loudly before any broadcast, not OOM an executor
    import graft.sql.GraftSession
    val g = GraftSession(spark, sf0001)
    val path = s"$suiteDir/r13_cap"
    g.sql(s"index vec_id, embedding from embeddings into '$path' pq")
    val over = new graft.sql.Planner((_, _) => emb, None).ServeMaxBatch + 1L
    val probeVec = emb.limit(1).collect().head.getSeq[Float](1)
    val qb = s"$suiteDir/r13_cap_q"
    spark.range(over).select(col("id").as("vec_id"),
        typedLit(probeVec).as("embedding"))
      .write.mode("overwrite").parquet(qb)
    Seq(s"serve vec_id, embedding from '$path' query '$qb' top 5",
        s"serve vec_id, embedding from '$path' query '$qb' top 5 pq").foreach { stmt =>
      val err = intercept[RuntimeException] { g.sql(stmt).collect() }
      assert(err.getMessage.contains("cap"),
        s"over-cap batch must name the cap, got: ${err.getMessage}")
    }
  }
}
