package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.IvfIndex

/** Property pins for the round-12 changes: the `_centers` sidecar
  * (persisted serving centers + refresh means — no consumer recomputes
  * them), the upsert stale-id sweep (a re-ingest that MOVES cells may
  * not leave its old copy behind), and the append/compact ingest path
  * (O(batch) write bytes; latest-wins reads; compaction restores plain
  * reads) — file-level and artifact-level invariants the oracle hash
  * gates can't express. */
class R12OpsSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf0001, "embeddings")
    .select(col("vec_id"), col("embedding"))

  private def cellFiles(path: String): Map[String, Array[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        p.toString.contains("cell="))
      .map(p => root.relativize(p).toString ->
        java.nio.file.Files.readAllBytes(p))
      .toMap
  }

  private def negated(e: org.apache.spark.sql.DataFrame) =
    e.select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"))

  test("build writes the sidecar: serving = the fit, refresh/counts = the index") {
    val path = s"$suiteDir/r12_sidecar_build"
    val centers = IvfIndex.build(emb, path)
    val side = IvfIndex.readSidecar(spark, path).get
    assert(side.serving.map(_._1) == centers.map(_._1))
    side.serving.zip(centers).foreach { case ((_, a), (_, b)) =>
      assert(a.sameElements(b), "sidecar serving centers must be the fit, bit-for-bit")
    }
    val (means, counts) =
      VectorQueries.refreshedCentersWithCounts(IvfIndex.read(spark, path))
    assert(side.refresh.map(_._1) == means.map(_._1))
    side.refresh.zip(means).foreach { case ((_, a), (_, b)) =>
      assert(a.sameElements(b), "sidecar refresh means must equal a fresh index scan, bit-for-bit")
    }
    assert(side.counts.filter(_._2 > 0) == counts.filter(_._2 > 0))
    assert(!side.pendingAppends && side.staleCells.isEmpty && side.maxSeq == 0L)
  }

  test("upsert sweeps a re-ingested id out of its OLD cell (the cross-cell move)") {
    val path = s"$suiteDir/r12_upsert_move"
    val centers = IvfIndex.build(emb, path)
    val oldCell = IvfIndex.read(spark, path)
      .filter(col("vec_id") === 0).head.getLong(2)
    // re-ingest id 0 with a NEGATED embedding — assigns elsewhere
    val moved = VectorQueries.kmeansAssign(
      negated(emb.filter(col("vec_id") === 0)), centers)
    val newCell = moved.head.getLong(2)
    assume(newCell != oldCell, "fixture must move the vector across cells")
    IvfIndex.upsert(spark, path, moved)
    val rows = IvfIndex.read(spark, path).filter(col("vec_id") === 0).collect()
    assert(rows.length == 1, s"one row per vec_id, got ${rows.length}")
    assert(rows.head.getLong(2) == newCell)
    // the sidecar's refresh means follow BOTH touched cells
    val side = IvfIndex.readSidecar(spark, path).get
    val (means, _) =
      VectorQueries.refreshedCentersWithCounts(IvfIndex.read(spark, path))
    assert(side.refresh.map(_._1) == means.map(_._1))
    side.refresh.zip(means).foreach { case ((_, a), (_, b)) =>
      assert(a.sameElements(b), "upsert must keep sidecar refresh means exact")
    }
  }

  test("upsert vacating a whole cell deletes its files (dynamic overwrite can't)") {
    // dynamic partition overwrite only rewrites partitions PRESENT in
    // the written frame — a cell whose every row moved away would keep
    // its old files and resurrect the deleted rows without the
    // vacated-cell fix
    val path = s"$suiteDir/r12_vacate"
    val centers = IvfIndex.build(emb, path)
    val idx = IvfIndex.read(spark, path)
    val counts = idx.groupBy(col("cell")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cCell = counts.minBy(_._2)._1
    val n = counts.map(_._2).sum
    // re-ingest EVERY row of the smallest cell with an embedding
    // copied from another cell's member — all of them assign there
    val donor = idx.filter(col("cell") =!= cCell).head
    val dEmb = donor.getSeq[Float](1)
    val arrivals = idx.filter(col("cell") === cCell).select(col("vec_id"))
      .withColumn("embedding", typedLit(dEmb))
    val assigned = VectorQueries.kmeansAssign(arrivals, centers)
    assert(assigned.filter(col("cell") === cCell).count() == 0,
      "fixture: the donor embedding must assign outside the vacated cell")
    IvfIndex.upsert(spark, path, assigned)
    val after = IvfIndex.read(spark, path)
    assert(after.count() == n, "no row lost, none doubled")
    assert(after.filter(col("cell") === cCell).count() == 0,
      "the vacated cell must hold no rows")
    assert(!new java.io.File(s"$path/cell=$cCell").exists(),
      "the vacated cell's directory must be deleted")
    val side = IvfIndex.readSidecar(spark, path).get
    assert(side.counts.getOrElse(cCell, 0L) == 0L)
    assert(!side.refresh.exists(_._1.toLong == cCell),
      "an empty cell has no refresh mean")
  }

  test("append writes O(batch) bytes: every pre-existing file byte-identical") {
    val path = s"$suiteDir/r12_append_bytes"
    val centers = IvfIndex.build(emb, path)
    val before = cellFiles(path)
    val baseBytes = before.values.map(_.length.toLong).sum
    // a SCATTERED batch (every 7th id re-ingested) — the overwrite
    // upsert's worst case rewrites every touched cell's occupancy;
    // append must add only batch-sized files
    val batch = VectorQueries.kmeansAssign(
      emb.filter(col("vec_id") % 7 === 3)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding")),
      centers)
    val batchN = batch.count()
    IvfIndex.append(spark, path, batch)
    val after = cellFiles(path)
    before.foreach { case (f, bytes) =>
      assert(after.contains(f), s"append must never remove $f")
      assert(java.util.Arrays.equals(bytes, after(f)),
        s"append must never rewrite $f")
    }
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty)
    val addedBytes = added.toSeq.map(after(_).length.toLong).sum
    val share = batchN.toDouble / (emb.count() + batchN)
    assert(addedBytes < baseBytes * share * 3,
      s"appended $addedBytes bytes for a ${share * 100}%-batch over $baseBytes base " +
        "— not O(batch)")
    val side = IvfIndex.readSidecar(spark, path).get
    assert(side.pendingAppends && side.maxSeq == 1L && side.staleCells.nonEmpty)
  }

  test("readLatest resolves a cross-cell re-ingest; compact makes plain read equal") {
    val path = s"$suiteDir/r12_append_compact"
    val centers = IvfIndex.build(emb, path)
    val n = emb.count()
    // seq 1: fresh ids; seq 2: re-ingest every 13th id with a negated
    // embedding (old copies stay in the files until compaction)
    IvfIndex.append(spark, path, VectorQueries.kmeansAssign(
      emb.filter(col("vec_id") % 7 === 3)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding")),
      centers))
    IvfIndex.append(spark, path, VectorQueries.kmeansAssign(
      negated(emb.filter(col("vec_id") % 13 === 4)), centers))
    val latest = IvfIndex.readLatest(spark, path)
    val expectN = n + emb.filter(col("vec_id") % 7 === 3).count()
    assert(latest.count() == expectN, "latest-wins: one row per vec_id")
    assert(latest.groupBy(col("vec_id")).count().filter(col("count") > 1).count() == 0)
    val latestRows = latest.select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // raw files DO hold superseded copies before compaction
    assert(spark.read.parquet(path).count() > expectN)
    val rewritten = IvfIndex.compact(spark, path, maxFilesPerCell = 1)
    assert(rewritten.nonEmpty)
    val plain = IvfIndex.read(spark, path).select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(plain == latestRows, "post-compact plain read ≡ pre-compact readLatest")
    // sidecar: appends resolved, means exact again, high-water kept
    val side = IvfIndex.readSidecar(spark, path).get
    assert(!side.pendingAppends && side.staleCells.isEmpty && side.maxSeq == 2L)
    val (means, _) =
      VectorQueries.refreshedCentersWithCounts(IvfIndex.read(spark, path))
    side.refresh.zip(means).foreach { case ((_, a), (_, b)) =>
      assert(a.sameElements(b), "compact must leave exact refresh means")
    }
    // idempotent: nothing left to rewrite at the default threshold
    assert(IvfIndex.compact(spark, path).isEmpty)
  }

  test("upsert refuses un-compacted appends; ingest batches must be unique on vec_id") {
    val path = s"$suiteDir/r12_guards"
    val centers = IvfIndex.build(emb, path)
    val one = VectorQueries.kmeansAssign(emb.filter(col("vec_id") === 0), centers)
    intercept[IllegalArgumentException] {
      IvfIndex.upsert(spark, path, one.unionByName(one)) // duplicate id
    }
    IvfIndex.append(spark, path, one)
    intercept[IllegalStateException] {
      IvfIndex.upsert(spark, path, one)
    }
    IvfIndex.compact(spark, path, maxFilesPerCell = Int.MaxValue)
    IvfIndex.upsert(spark, path, one) // compacted: fine again
  }

  test("sidecar cache: second read is a hit; any write invalidates") {
    val path = s"$suiteDir/r12_cache"
    IvfIndex.build(emb, path)
    IvfIndex.SidecarCache.invalidate(path)
    val l0 = IvfIndex.SidecarCache.loadCount(path)
    val a = IvfIndex.SidecarCache.get(spark, path)
    assert(a.isDefined && IvfIndex.SidecarCache.loadCount(path) == l0 + 1)
    val b = IvfIndex.SidecarCache.get(spark, path)
    assert(b.isDefined && IvfIndex.SidecarCache.loadCount(path) == l0 + 1,
      "second get must be served from the cache")
    val centers = IvfIndex.build(emb, path) // rewrite → invalidate
    val c = IvfIndex.SidecarCache.get(spark, path).get
    assert(IvfIndex.SidecarCache.loadCount(path) == l0 + 2)
    assert(c.serving.map(_._1) == centers.map(_._1))
  }

  test("serve-query routing comes from the sidecar, not an index scan") {
    // swap the sidecar's refresh means for a FOREIGN set; routing must
    // follow the sidecar (proving serve never re-aggregates the index)
    import graft.sql.GraftSession
    val g = GraftSession(spark, sf0001)
    val path = s"$suiteDir/r12_route_proof"
    g.sql(s"index vec_id, embedding from embeddings into '$path'")
    val qb = s"$suiteDir/r12_route_q"
    emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(qb)
    val before = g.sql(s"serve vec_id, embedding from '$path' query '$qb' top 3")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val side = IvfIndex.readSidecar(spark, path).get
    // collapse every refresh mean onto cell 0's — all queries now
    // route to the LOWEST cell id (nearest-of-identical ties break low)
    val c0 = side.refresh.head._2
    IvfIndex.writeSidecar(spark, path,
      side.copy(refresh = side.refresh.map { case (c, _) => (c, c0) },
        version = side.version + 1))
    val routed = g.sql(s"serve vec_id, embedding from '$path' query '$qb' top 3")
    val cells = routed.select(col("n_id")).distinct().collect().map(_.getLong(0))
    val cellOf = IvfIndex.read(spark, path)
      .filter(col("vec_id").isin(cells.toSeq: _*))
      .select(col("cell")).distinct().collect().map(_.getLong(0)).toSet
    assert(cellOf == Set(side.refresh.head._1.toLong),
      s"with identical sidecar means every query must route to the first cell, got $cellOf")
    // restore and confirm the original answer comes back
    IvfIndex.writeSidecar(spark, path, side.copy(version = side.version + 2))
    val after = g.sql(s"serve vec_id, embedding from '$path' query '$qb' top 3")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(after == before)
  }

  test("pq index: sidecar books round-trip bit-exact; ingest encodes arrivals") {
    import graft.sql.GraftSession
    val g = GraftSession(spark, sf0001)
    val path = s"$suiteDir/r12_pq_idx"
    g.sql(s"index vec_id, embedding from embeddings into '$path' pq")
    val side = IvfIndex.readSidecar(spark, path).get
    assert(side.hasPq && side.books.size == VectorQueries.PQ_M)
    side.books.foreach(b => assert(b.size == VectorQueries.PQ_K))
    // books round-trip: re-deriving them from the corpus residuals
    // must give the same doubles bit-for-bit
    val assigned = VectorQueries.kmeansAssign(emb, side.serving)
    val rederived = VectorQueries.pqCodebooks(
      VectorQueries.residuals(assigned, side.serving)
        .select(col("vec_id"), col("embedding")), dim = side.dim)
    side.books.zip(rederived).foreach { case (a, b) =>
      assert(a.map(_._1) == b.map(_._1))
      a.zip(b).foreach { case ((_, x), (_, y)) => assert(x.sameElements(y)) }
    }
    // ingest into a pq index encodes arrivals: stored codes equal a
    // direct encode of the same rows
    val ap = s"$suiteDir/r12_pq_arr"
    emb.filter(col("vec_id") < 7)
      .select((col("vec_id") + lit(8000L)).as("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(ap)
    g.sql(s"ingest vec_id, embedding from '$ap' into '$path'")
    val stored = IvfIndex.readFull(spark, path)
      .filter(col("vec_id") >= 8000L && col("vec_id") < 8007L)
      .select(col("vec_id"), col("pq")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1).toSeq).toMap
    val direct = IvfIndex.withCodes(
      VectorQueries.kmeansAssign(
        emb.filter(col("vec_id") < 7)
          .select((col("vec_id") + lit(8000L)).as("vec_id"), col("embedding")),
        side.serving), side.serving, side.books)
      .select(col("vec_id"), col("pq")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1).toSeq).toMap
    assert(stored == direct, "ingested codes must equal a direct encode")
    // and pq serving works on the upserted index
    val qb = s"$suiteDir/r12_pq_q"
    emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + lit(9000L)).as("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(qb)
    val served = g.sql(
      s"serve vec_id, embedding from '$path' query '$qb' top 3 pq shortlist 10")
    assert(served.columns.toSeq == Seq("q_id", "n_id", "sim", "rank"))
    assert(served.count() > 0 && served.filter(col("rank") > 3).count() == 0)
    // a plain index refuses pq serving with a clear error
    val plain = s"$suiteDir/r12_pq_plain"
    g.sql(s"index vec_id, embedding from embeddings into '$plain'")
    assertThrows[Exception](g.sql(
      s"serve vec_id, embedding from '$plain' query '$qb' top 3 pq"))
  }

  test("multi-probe serve: probe 2 is a superset-or-equal candidate pool (s61 ≡ oracle shape)") {
    import graft.sql.GraftSession
    val g = GraftSession(spark, sf0001)
    val path = s"$suiteDir/r12_probe"
    g.sql(s"index vec_id, embedding from embeddings into '$path'")
    val qb = s"$suiteDir/r12_probe_q"
    emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(qb)
    def sims(probe: Int): Map[Long, Seq[Double]] =
      g.sql(s"serve vec_id, embedding from '$path' query '$qb' top 5 probe $probe")
        .collect().map(r => (r.getLong(0), r.getDouble(2)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).sorted.reverse.toSeq }
    val p1 = sims(1); val p2 = sims(2)
    assert(p1.keySet == p2.keySet)
    p1.foreach { case (q, s1) =>
      val s2 = p2(q)
      s1.zip(s2).foreach { case (a, b) =>
        assert(b >= a, s"probe 2 similarity at each rank must dominate (q=$q)")
      }
    }
  }
}
